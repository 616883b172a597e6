package graft

import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/**
 * DuckDB oracle SQL for the Tier-B queries, generated from the same
 * constants (hash prime/base, mixer, marker lists, LSH planes) the Spark
 * operators use, so the two sides cannot drift.
 *
 * Determinism rules shared with the Scala side:
 *   - hashes are integer polynomial folds — `list_reduce` with no seed
 *     equals Spark's `aggregate(…, 0L, …)` because the first fold step
 *     `(0*31+c)%p == c` matches reduce-without-initial;
 *   - every floating-point result is either a single division of exact
 *     integers or a left-associated `t1+t2+…` chain mirroring Spark's
 *     left-assoc expression reduce — bit-identical in IEEE doubles;
 *   - aggregation is only over integers (order-insensitive) or min/max.
 */
object OracleSql {

  private val P = TextFunctions.HashPrime
  private val Mix = TextFunctions.Mix
  /** MinHash per-index coefficient (TextFunctions.minhashSignature's
    * `7919*i` term — HashExpressions.MinHashSig hardcodes the same). */
  private val SigB = 7919L

  /** Rolling hash of a string-valued SQL expression (chars, base 31 mod p). */
  private def rh(expr: String): String =
    s"list_reduce(list_transform(string_split($expr, ''), c -> ascii(c)::BIGINT), (h, c) -> (h*31 + c) % $P)"

  private val toks = "string_split(text, ' ')"

  /** Escape a free-text parameter for interpolation inside a
    * single-quoted SQL literal. Every builder that splices
    * caller-supplied text (inject suffixes, blacklist phrases) must
    * route through this — an unescaped quote would otherwise produce
    * broken or silently wrong oracle SQL. */
  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Distinct word-n-gram shingle hashes of `text` (empty if < n tokens). */
  private def shingleHashesN(n: Int): String = {
    val joined = (0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")
    s"""list_distinct(list_transform(
       |  CASE WHEN len($toks) >= $n
       |       THEN list_transform(range(1, len($toks) - ${n - 2}),
       |              i -> $joined)
       |       ELSE [] END,
       |  s -> ${rh("s")}))""".stripMargin
  }

  private val shingleHashes: String = shingleHashesN(3)

  /** ALL word-n-gram shingle hashes (duplicates kept) — the multiset twin
    * of [[shingleHashesN]] for term-frequency-weighted operators. */
  private def shingleHashesAllN(n: Int): String = {
    val joined = (0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")
    s"""list_transform(
       |  CASE WHEN len($toks) >= $n
       |       THEN list_transform(range(1, len($toks) - ${n - 2}),
       |              i -> $joined)
       |       ELSE [] END,
       |  s -> ${rh("s")})""".stripMargin
  }

  /** Exact all-pairs n-gram Jaccard >= threshold — the oracle for BOTH the
    * exact inverted-index operator and the MinHash+LSH operator (at the
    * given banding, LSH misses a >=0.6 pair with probability < 1e-10). */
  def ngramJaccardPairs(threshold: Double, maxDocFreq: Int,
      table: String = "documents"): String =
    s"""WITH sets AS (SELECT doc_id AS id, $shingleHashes AS hs FROM $table),
       |sets2 AS (SELECT id, hs, len(hs) AS sz FROM sets WHERE len(hs) > 0),
       |inv AS (SELECT id, unnest(hs) AS h FROM sets2),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= $maxDocFreq),
       |invf AS (SELECT inv.id, inv.h FROM inv JOIN rare USING (h)),
       |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS inter
       |          FROM invf x JOIN invf y ON x.h = y.h AND x.id < y.id
       |          GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b,
       |       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
       |FROM inter i
       |JOIN sets2 sa ON i.id_a = sa.id
       |JOIN sets2 sb ON i.id_b = sb.id
       |WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= $threshold""".stripMargin

  /** Mirror of Dedup.rarityWeightedPairs: shingle term frequencies,
    * df-capped inverted index, quantized-idf integer coordinates
    * `tf · (N // df)`, exact integer dot products and norms, one final
    * double cosine per pair. */
  def rarityWeightedPairs(n: Int, threshold: Double, maxDocFreq: Int): String =
    s"""WITH sh AS (SELECT doc_id AS id, unnest(${shingleHashesAllN(n)}) AS h
       |            FROM documents),
       |tf AS (SELECT id, h, count(*)::BIGINT AS tf FROM sh GROUP BY 1, 2),
       |dft AS (SELECT h, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |        HAVING count(*) <= $maxDocFreq),
       |nd AS (SELECT count(DISTINCT id)::BIGINT AS n FROM tf),
       |idx AS (SELECT tf.id, tf.h, tf.tf * (nd.n // dft.df) AS v
       |        FROM tf JOIN dft USING (h), nd),
       |norms AS (SELECT id, sum(v * v)::BIGINT AS n2 FROM idx GROUP BY 1),
       |pairs AS (SELECT x.id AS id_a, y.id AS id_b,
       |            sum(x.v * y.v)::BIGINT AS dot
       |          FROM idx x JOIN idx y ON x.h = y.h AND x.id < y.id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       |    AS cosine
       |FROM pairs JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id
       |WHERE CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       |    >= $threshold""".stripMargin

  /** Per-doc 32-bit SimHash as a CTE body (relational formulation of the
    * per-row fold the Spark side does with higher-order functions). */
  private val simhashCte: String =
    s"""tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |th AS (SELECT doc_id, (${rh("tok")} * $Mix) % ${TextFunctions.TwoPow32} AS h FROM tk),
       |bits AS (SELECT doc_id, i, SUM(((h >> i) & 1)*2 - 1) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i) ii
       |         GROUP BY 1, 2),
       |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
       |       FROM bits GROUP BY 1)""".stripMargin

  def textFingerprint: String =
    s"""WITH $simhashCte
       |SELECT d.doc_id, md5(d.text) AS md5_hex, ${rh("d.text")} AS rolling_hash, sh.simhash
       |FROM documents d JOIN sh USING (doc_id)""".stripMargin

  /** SimHash near-dup pairs within maxHamming bits (popcount spelled as a
    * 32-term sum — portable, no bit_count dependency). */
  def simhashPairs(maxHamming: Int): String = {
    // Each term fully parenthesized: SQL's `&` binds looser than `+`.
    val pop = (0 until 32).map(i => s"(((xor(x.simhash, y.simhash)) >> $i) & 1)").mkString(" + ")
    s"""WITH $simhashCte
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST($pop AS INTEGER) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE $pop <= $maxHamming""".stripMargin
  }

  /** Per-doc 64-bit SimHash as a CTE body, carried as TWO 32-bit halves
    * (`sh_lo`, `sh_hi`): DuckDB BIGINT traps on overflow, so the
    * combined value (bit 63 = sign) is never assembled — consumers sum
    * per-half popcounts instead. `sh_lo` is bit-identical to the 32-bit
    * [[simhashCte]] hash (same Mix — the Spark low-half identity pin),
    * `sh_hi` is the same fold under Mix2. */
  private val simhash64Cte: String =
    s"""tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |th AS (SELECT doc_id,
       |         (${rh("tok")} * $Mix) % ${TextFunctions.TwoPow32} AS h1,
       |         (${rh("tok")} * ${TextFunctions.Mix2}) % ${TextFunctions.TwoPow32} AS h2
       |       FROM tk),
       |bits AS (SELECT doc_id, i,
       |           SUM((((CASE WHEN i < 32 THEN h1 >> i ELSE h2 >> (i - 32) END)) & 1)*2 - 1) AS s
       |         FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii
       |         GROUP BY 1, 2),
       |sh AS (SELECT doc_id,
       |         CAST(SUM(CASE WHEN s > 0 AND i < 32 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh_lo,
       |         CAST(SUM(CASE WHEN s > 0 AND i >= 32 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS sh_hi
       |       FROM bits GROUP BY 1)""".stripMargin

  /** 64-bit SimHash near-dup pairs (q269): popcount as a 64-term sum
    * over the two halves' XORs. */
  def simhash64Pairs(maxHamming: Int): String = {
    val pop = ((0 until 32).map(i => s"(((xor(x.sh_lo, y.sh_lo)) >> $i) & 1)") ++
      (0 until 32).map(i => s"(((xor(x.sh_hi, y.sh_hi)) >> $i) & 1)")).mkString(" + ")
    s"""WITH $simhash64Cte
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST($pop AS INTEGER) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE $pop <= $maxHamming""".stripMargin
  }

  private def markerLen(listName: Seq[String]): String =
    s"len(list_filter($toks, t -> list_contains([${listName.map("'" + _ + "'").mkString(", ")}], t)))"

  def textQuality: String = {
    val stops = markerLen(TextFunctions.LangMarkers.head._2)
    s"""SELECT doc_id,
       |  len($toks) AS n_tokens,
       |  len(list_distinct($toks)) AS n_uniq_tokens,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens,
       |  CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS ttr,
       |  CAST($stops AS DOUBLE) / len($toks) AS stop_ratio,
       |  CAST(length(text) - (len($toks) - 1) AS DOUBLE) / len($toks) AS mean_token_len,
       |  (len($toks) >= 10
       |     AND CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) >= 0.1
       |     AND CAST($stops AS DOUBLE) / len($toks) <= 0.5) AS quality_ok
       |FROM documents""".stripMargin
  }

  def textLangId: String = textLangIdFrom("documents")

  private def textLangIdFrom(source: String): String = {
    val langs = TextFunctions.LangMarkers
    val counts = langs.map { case (l, ws) => l -> markerLen(ws) }
    // CASE chain: first lang whose count >= all later counts wins.
    val chain = counts.zipWithIndex.init.reverse
      .foldLeft(s"'${langs.last._1}'") { case (els, ((lang, c), i)) =>
        val cond = counts.drop(i + 1).map { case (_, o) => s"$c >= $o" }.mkString(" AND ")
        s"CASE WHEN $cond THEN '$lang' ELSE $els END"
      }
    val anyHit = counts.map(_._2).mkString(" + ")
    // Han branch first — mirrors TextFunctions.langId. RE2 and Java regex
    // share the \x{...} class syntax; DuckDB standard strings pass the
    // backslash through untouched.
    s"""SELECT doc_id,
       |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |       WHEN ($anyHit) > 0 THEN $chain ELSE 'und' END AS lang_pred
       |FROM $source""".stripMargin
  }

  /** Language-ID over a corpus with Han text deterministically injected
    * into a hash-sampled slice (codepoints built with chr(), so the SQL
    * stays pure ASCII) — the oracle row that actually exercises the `zh`
    * character-class branch, which the pure-ASCII fixture corpus never
    * reaches. Java-regex-vs-RE2 drift on the Han class would surface
    * here, not just in unit specs. */
  def textLangIdZh(injectPct: Int): String = {
    val han = Seq(0x4e2d, 0x6587).map(cp => s"chr($cp)").mkString(" || ")
    s"""WITH injected AS (
       |  SELECT doc_id,
       |    CASE WHEN ${sampleBucket("doc_id")} < $injectPct
       |         THEN text || ' ' || $han ELSE text END AS text
       |  FROM documents)
       |${textLangIdFrom("injected")}""".stripMargin
  }

  def textStats: String =
    s"""SELECT lang,
       |  count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  CAST(sum(len($toks)) AS BIGINT) AS sum_tokens,
       |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars,
       |  CAST(sum(len($toks)) AS DOUBLE) / count(*) AS avg_tokens
       |FROM documents GROUP BY lang""".stripMargin

  def dedupExact: String =
    """SELECT * FROM documents
      |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) = 1""".stripMargin

  /** Left-associated cosine terms between two vector SQL expressions. */
  private def dotTerms(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"$a[$i]::DOUBLE * $b[$i]::DOUBLE").mkString(" + ")

  def embedTopK(queryId: Long, k: Int, dim: Int): String = {
    val dotQ = dotTerms("e.embedding", "q.qv", dim)
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val n2q = dotTerms("q.qv", "q.qv", dim)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $queryId)
       |SELECT e.vec_id, ($dotQ) / (sqrt($n2e) * sqrt($n2q)) AS score
       |FROM embeddings e, q
       |ORDER BY score DESC, e.vec_id ASC LIMIT $k""".stripMargin
  }

  /** Batch kNN join: per query-batch vector, the top-k corpus neighbors
    * (query batch = vec_id < queryMax). Same left-assoc cosine chain as
    * embedTopK; the per-query cut is a rank window. */
  def knnJoin(queryMax: Long, k: Int, dim: Int): String = {
    val dotQ = dotTerms("e.embedding", "q.qv", dim)
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val n2q = dotTerms("q.qv", "q.qv", dim)
    val score = s"($dotQ) / (sqrt($n2e) * sqrt($n2q))"
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $queryMax)
       |SELECT q.query_id, e.vec_id, $score AS score,
       |  row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY $score DESC, e.vec_id ASC) AS rank
       |FROM embeddings e, q
       |QUALIFY rank <= $k""".stripMargin
  }

  /** Mirror of Multimodal.StubCodec over documents-derived payloads: the
    * payload is the UTF-8 text (ASCII corpus), so the byte rolling hash
    * equals the character rolling hash. */
  def multimodalMeta: String =
    s"""WITH m AS (SELECT doc_id, text, ${rh("text")} AS h FROM documents)
       |SELECT doc_id AS media_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  CAST(length(text) AS BIGINT) AS byte_len,
       |  h AS checksum,
       |  CAST(64 + h % 1856 AS INTEGER) AS width,
       |  CAST(64 + (h // 1856) % 1016 AS INTEGER) AS height,
       |  CAST(1 + length(text) % 30 AS INTEGER) AS n_frames
       |FROM m""".stripMargin

  /** Mirror of Multimodal.phashPairs: 32-bit sign-bit signature over the
    * stub checksum, popcount-verified pairs. The oracle uses the plain n²
    * join — equal to the operator's blocked candidates' verified subset
    * because byte-pigeonhole blocking is lossless for maxHamming <= 3. */
  def phashPairs(maxHamming: Int): String = {
    val sig = (0 until 32).map(j =>
      s"(CASE WHEN (h * ${2 * j + 1} + $j) % $P % 1000 >= 500 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val pop = (0 until 32).map(i => s"(((xor(x.ph, y.ph)) >> $i) & 1)").mkString(" + ")
    s"""WITH m AS (SELECT doc_id AS id, ${rh("text")} AS h FROM documents),
       |p AS (SELECT id, CAST($sig AS BIGINT) AS ph FROM m)
       |SELECT x.id AS media_id_a, y.id AS media_id_b, CAST($pop AS INTEGER) AS hamming
       |FROM p x JOIN p y ON x.id < y.id
       |WHERE $pop <= $maxHamming""".stripMargin
  }

  /** Frame expansion mirror: the stub codec emits `1 + byte_len % 30`
    * frames with checksum `(doc_checksum*31 + frame_id) % p`. */
  def multimodalFrames: String =
    s"""WITH m AS (SELECT doc_id, text, ${rh("text")} AS h FROM documents),
       |f AS (SELECT doc_id AS media_id, h,
       |        CAST(unnest(range(0, 1 + length(text) % 30)) AS INTEGER) AS frame_id
       |      FROM m)
       |SELECT media_id, frame_id, (h * 31 + frame_id) % $P AS frame_checksum FROM f""".stripMargin

  /** Mirror of Multimodal.resize over documents-derived payloads: stub
    * dims from the checksum, exact scale factors (single divisions),
    * resized checksum `((h*31 + tw)*31 + th) % p`. */
  def multimodalResize(targetW: Int, targetH: Int): String =
    s"""WITH m AS (SELECT doc_id, ${rh("text")} AS h FROM documents)
       |SELECT doc_id AS media_id,
       |  CAST(64 + h % 1856 AS INTEGER) AS width,
       |  CAST(64 + (h // 1856) % 1016 AS INTEGER) AS height,
       |  $targetW AS target_w, $targetH AS target_h,
       |  CAST($targetW AS DOUBLE) / (64 + h % 1856) AS scale_x,
       |  CAST($targetH AS DOUBLE) / (64 + (h // 1856) % 1016) AS scale_y,
       |  ((h * 31 + $targetW) * 31 + $targetH) % $P AS resized_checksum
       |FROM m""".stripMargin

  /** Epoch-aligned hour buckets == Spark's window(ts, '1 hour'). Aggregates
    * are counts and min/max only (order-insensitive). */
  def eventsWindow: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** As-of pick spelled as join + windowed row_number so the tiebreak
    * (order key desc) is explicit — DuckDB's ASOF JOIN leaves equal-time
    * ties unspecified, which would break the hash compare. */
  def asofJoin: String =
    """SELECT e.event_id, e.ts, e.user_id,
      |       o.o_orderkey AS last_order_key,
      |       o.o_orderdate AS last_order_date,
      |       o.o_totalprice AS last_order_price
      |FROM events e
      |LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |QUALIFY row_number() OVER (PARTITION BY e.event_id
      |  ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) = 1""".stripMargin

  /** Mirror of the q126 tolerance-bounded as-of pick: q22's join +
    * QUALIFY shape with the staleness range condition added. */
  def asofJoinTolerance(maxStalenessMinutes: Long): String =
    s"""SELECT e.event_id, e.ts, e.user_id,
       |       o.o_orderkey AS last_order_key,
       |       o.o_orderdate AS last_order_date,
       |       o.o_totalprice AS last_order_price
       |FROM events e
       |LEFT JOIN orders o ON e.user_id = o.o_custkey
       |  AND o.o_orderdate <= e.ts
       |  AND o.o_orderdate >= e.ts - INTERVAL $maxStalenessMinutes MINUTES
       |QUALIFY row_number() OVER (PARTITION BY e.event_id
       |  ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) = 1""".stripMargin

  /** Mirror of the q129 last-touch attribution: events-to-events as-of
    * pick with the staleness bound, explicit tiebreak. */
  def attribution(maxStalenessMinutes: Long): String =
    s"""SELECT p.event_id, p.ts, p.user_id,
       |  t.event_id AS touch_id, t.event_type AS touch_type,
       |  t.ts AS touch_ts
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN (SELECT * FROM events
       |           WHERE event_type IN ('click', 'view')) t
       |  ON p.user_id = t.user_id AND t.ts <= p.ts
       |  AND t.ts >= p.ts - INTERVAL $maxStalenessMinutes MINUTES
       |QUALIFY row_number() OVER (PARTITION BY p.event_id
       |  ORDER BY t.ts DESC NULLS LAST, t.event_id DESC NULLS LAST) = 1""".stripMargin

  /** Mirror of the q215 forward as-of composition: each error event's
    * NEXT user action within the window, earliest-first pick. */
  def errorRecovery(maxStalenessMinutes: Long): String =
    s"""SELECT e.event_id, e.ts, e.user_id,
       |  t.event_id AS next_id, t.event_type AS next_type,
       |  t.ts AS next_ts
       |FROM (SELECT * FROM events WHERE event_type = 'error') e
       |LEFT JOIN (SELECT * FROM events
       |           WHERE event_type IN ('click', 'view', 'purchase', 'signup')) t
       |  ON e.user_id = t.user_id AND t.ts >= e.ts
       |  AND t.ts <= e.ts + INTERVAL $maxStalenessMinutes MINUTES
       |QUALIFY row_number() OVER (PARTITION BY e.event_id
       |  ORDER BY t.ts ASC NULLS LAST, t.event_id DESC NULLS LAST) = 1""".stripMargin

  /** Mirror of Dedup.prefixDupGroups: first-k-token rolling hash,
    * multiplicity >= 2 groups. */
  def prefixDupGroups(k: Int): String =
    s"""WITH p AS (SELECT doc_id, ${rh(s"array_to_string(list_slice($toks, 1, $k), ' ')")}
       |             AS prefix_hash
       |           FROM documents WHERE len($toks) >= $k)
       |SELECT prefix_hash, count(*)::BIGINT AS n_docs,
       |  min(doc_id)::BIGINT AS keeper_id
       |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** Mirror of the q213 composition: embeddings unioned with a re-id'd
    * hash-sampled copy (the q53 injection pattern — the fixture has no
    * natural exact-dup vectors), micro-quantized md5 content key,
    * multiplicity >= 2 groups. */
  def exactDupVectors(injectPct: Int, idOffset: Long): String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $idOffset, embedding FROM embeddings
       |  WHERE ${sampleBucket("vec_id")} < $injectPct),
       |k AS (SELECT vec_id, md5(array_to_string(list_transform(embedding,
       |        x -> CAST(CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)
       |               AS VARCHAR)), ',')) AS vec_key
       |      FROM base)
       |SELECT vec_key, count(*)::BIGINT AS n_vectors,
       |  min(vec_id)::BIGINT AS keeper_id
       |FROM k GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** Mirror of SimilaritySearch.pairDistanceHistogram: id-bucket
    * sample, all sample pairs, floor(cos*10) bins. */
  def pairDistanceHistogram(samplePct: Int, dim: Int): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    s"""WITH s AS (SELECT vec_id AS id, embedding AS v, ($n2) AS n2
       |           FROM embeddings WHERE ${sampleBucket("vec_id")} < $samplePct),
       |c AS (SELECT ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) AS cos
       |      FROM s x JOIN s y ON x.id < y.id)
       |SELECT CAST(floor(cos * 10) AS INTEGER) AS bin,
       |  count(*)::BIGINT AS n_pairs, min(cos) AS min_cos, max(cos) AS max_cos
       |FROM c GROUP BY 1""".stripMargin
  }

  /** Mirror of SimilaritySearch.dimensionAudit: per-position explode
    * via the range cross join, micro-integer mean/variance chains. */
  def dimensionAudit(dim: Int): String =
    s"""WITH ex AS (SELECT CAST(i AS INTEGER) AS dim_pos,
       |              embedding[i]::DOUBLE AS x
       |            FROM embeddings,
       |              (SELECT unnest(range(1, ${dim + 1})) AS i)),
       |m AS (SELECT dim_pos, x,
       |        CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS mm FROM ex),
       |a AS (SELECT dim_pos, count(*)::BIGINT AS n, min(x) AS min_v,
       |        max(x) AS max_v, CAST(sum(mm) AS BIGINT) AS sm,
       |        CAST(sum(mm * mm) AS BIGINT) AS ss
       |      FROM m GROUP BY 1)
       |SELECT dim_pos, n, min_v, max_v,
       |  CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean_v,
       |  (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
       |    - (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)))
       |    / 1000000000000.0 AS var_v
       |FROM a""".stripMargin

  /** Mirror of Sampling.groupHoldout: the content-addressed bucket of
    * the GROUP value decides the side for every member row. */
  def groupHoldout(groupCol: String, testPct: Int): String =
    s"""SELECT *, CASE WHEN CAST(concat('0x', substr(md5($groupCol), 1, 15))
       |    AS BIGINT) % 100 < $testPct
       |  THEN 'test' ELSE 'train' END AS split
       |FROM documents""".stripMargin

  /** Mirror of Profiler.stringLengthProfile: per-column single-scan
    * folds, unioned long-form. */
  def stringLengthProfile(table: String, cols: Seq[String]): String =
    cols.map { c =>
      val nn = s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)"
      val sl = s"sum(COALESCE(length($c), 0))"
      s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_rows,
         |  CAST($nn AS BIGINT) AS n_null,
         |  CAST(sum(CASE WHEN length($c) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_empty,
         |  CAST(min(length($c)) AS BIGINT) AS min_len,
         |  CAST(max(length($c)) AS BIGINT) AS max_len,
         |  CAST($sl AS BIGINT) AS sum_len,
         |  CAST($sl AS DOUBLE) / CAST(count(*) - $nn AS DOUBLE) AS mean_len
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of the q219 composition: tag injection on a hash-sampled
    * slice, then TextAnalysis.markupDensity's length-difference and
    * tag-count chains. */
  def markupDensity(injectPct: Int, maxPerMille: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |    CASE WHEN ${sampleBucket("doc_id")} < $injectPct
       |      THEN '<div><p>' || text || '</p></div>' ELSE text END AS text
       |  FROM documents),
       |x AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '</?[a-z]+>')) AS BIGINT)
       |      AS n_tags,
       |    CAST(length(text) - length(regexp_replace(text, '</?[a-z]+>',
       |      '', 'g')) AS BIGINT) AS markup_chars,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM d),
       |p AS (SELECT doc_id, n_tags, markup_chars, n_chars,
       |    CASE WHEN n_chars > 0 THEN (markup_chars * 1000) // n_chars
       |         ELSE 0 END AS markup_per_mille
       |  FROM x)
       |SELECT doc_id, n_tags, markup_chars, n_chars, markup_per_mille,
       |  markup_per_mille <= $maxPerMille AS keep
       |FROM p""".stripMargin

  /** Mirror of the q220 composition: multi-sentence suffix injection on
    * a hash-sampled slice, then TextAnalysis.sentenceStats' explode →
    * per-doc → per-language rollup. */
  def sentenceStats(injectPct: Int, suffix: String): String =
    s"""WITH d AS (SELECT doc_id, lang,
       |    CASE WHEN ${sampleBucket("doc_id")} < $injectPct
       |      THEN text || '${suffix.replace("'", "''")}'
       |      ELSE text END AS text
       |  FROM documents),
       |s AS (SELECT lang, doc_id, unnest(string_split(text, '. ')) AS sent
       |      FROM d),
       |st AS (SELECT lang, doc_id,
       |         CAST(len(string_split(sent, ' ')) AS BIGINT) AS stoks
       |       FROM s),
       |pd AS (SELECT lang, doc_id, count(*)::BIGINT AS ns,
       |         CAST(sum(stoks) AS BIGINT) AS toks, max(stoks) AS maxs
       |       FROM st GROUP BY 1, 2)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  CAST(sum(ns) AS BIGINT) AS n_sentences,
       |  max(maxs) AS max_sentence_tokens,
       |  CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS mean_sentences_per_doc,
       |  CAST(sum(toks) AS DOUBLE) / CAST(sum(ns) AS DOUBLE)
       |    AS mean_tokens_per_sentence
       |FROM pd GROUP BY 1""".stripMargin

  /** Mirror of Sampling.topShareSelection on documents (score = n_chars,
    * group = lang): exclusive running mass cross-multiplied vs total. */
  def topShareSelection(sharePct: Int): String =
    s"""SELECT doc_id, text, lang, source, n_chars FROM (
       |  SELECT *,
       |    sum(n_chars) OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(n_chars) OVER (PARTITION BY lang) AS tot
       |  FROM documents)
       |WHERE (cum - n_chars) * 100 < $sharePct * tot""".stripMargin

  /** Gap-based sessions replayed relationally: lag → new-session flag →
    * running sum = session id → group. Session end = last event + gap
    * (Spark session_window semantics). Gap compare on exact epoch micros. */
  def sessionize(gapMinutes: Int): String = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    s"""WITH flagged AS (
       |  SELECT user_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged)
       |SELECT user_id, min(ts) AS session_start,
       |       max(ts) + INTERVAL $gapMinutes MINUTE AS session_end,
       |       count(*) AS n_events
       |FROM sess GROUP BY user_id, sid""".stripMargin
  }

  /** Components via transitive closure (recursive CTE) over the same
    * pair graph; component = least reachable id. Closure is fine at
    * oracle scale — the engine's label propagation is the scale path. */
  def dedupComponents(threshold: Double, maxDocFreq: Int): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin

  /** IVF ANN: centroids = vec_id < nlist, probe = nprobe nearest cells to
    * the query, exact cosine re-rank within probed cells. Every cosine is
    * the shared left-assoc chain, every tie-break explicit, so the
    * approximate index is still exactly replayable. */
  def ivfTopK(queryId: Long, k: Int, dim: Int, nlist: Int, nprobe: Int): String = {
    val n2q = dotTerms("q.qv", "q.qv", dim)
    val n2c = dotTerms("c.cv", "c.cv", dim)
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val dotEC = dotTerms("e.embedding", "c.cv", dim)
    val dotCQ = dotTerms("c.cv", "q.qv", dim)
    val dotAQ = dotTerms("a.embedding", "q.qv", dim)
    val n2a = dotTerms("a.embedding", "a.embedding", dim)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $queryId),
       |cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $nlist),
       |probe AS (SELECT c.cid FROM cent c CROSS JOIN q
       |          ORDER BY ($dotCQ) / (sqrt($n2c) * sqrt($n2q)) DESC, c.cid ASC
       |          LIMIT $nprobe),
       |assign AS (SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ($dotEC) / (sqrt($n2e) * sqrt($n2c)) DESC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1)
       |SELECT a.vec_id, ($dotAQ) / (sqrt($n2a) * sqrt($n2q)) AS score
       |FROM assign a CROSS JOIN q
       |WHERE a.cid IN (SELECT cid FROM probe)
       |ORDER BY score DESC, a.vec_id ASC LIMIT $k""".stripMargin
  }

  /** Knuth-mix bucket in [0,100) of a non-negative BIGINT id — mirrors
    * `Sampling.bucket` (id reduced mod 2^31 first so the product stays
    * below 2^63: DuckDB traps BIGINT overflow where Spark would wrap). */
  private def sampleBucket(idExpr: String): String =
    s"((($idExpr % ${graft.operators.Sampling.IdFold}) * $Mix) % ${TextFunctions.TwoPow32}) % 100"

  def stratifiedSample(rates: Seq[(String, Int)], defaultPct: Int,
      strataCol: String, idCol: String): String = {
    val cases = rates.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    s"""SELECT * FROM documents
       |WHERE ${sampleBucket(idCol)} < (CASE $strataCol $cases ELSE $defaultPct END)""".stripMargin
  }

  /** Mirror of Sampling.temperatureSample: per-stratum rates
    * floor(100·sqrt(c_min/c_s)) — sqrt is IEEE-correctly-rounded, so the
    * rates (and membership) match Spark bit-for-bit. */
  def temperatureSample(strataCol: String, idCol: String): String =
    s"""WITH c AS (SELECT $strataCol, count(*) AS cnt FROM documents GROUP BY $strataCol),
       |r AS (SELECT $strataCol,
       |        CAST(floor(100.0 * sqrt((SELECT min(cnt) FROM c)::DOUBLE / cnt)) AS BIGINT) AS rate
       |      FROM c)
       |SELECT d.* FROM documents d JOIN r USING ($strataCol)
       |WHERE ${sampleBucket(s"d.$idCol")} < r.rate""".stripMargin

  def trainTestSplit(testPct: Int, idCol: String): String =
    s"""SELECT *, CASE WHEN ${sampleBucket(idCol)} < $testPct
       |THEN 'test' ELSE 'train' END AS split FROM documents""".stripMargin

  /** Mirror of Dedup.decontaminate over a hashSample(pct) eval set: drop
    * documents whose md5 matches a sampled fingerprint. */
  def decontaminate(evalPct: Int, idCol: String): String =
    s"""SELECT d.* FROM documents d
       |WHERE md5(d.text) NOT IN
       |  (SELECT md5(text) FROM documents WHERE ${sampleBucket(idCol)} < $evalPct)""".stripMargin

  /** Mirror of TextAnalysis.packSequences: contiguous per-group layout in
    * id order, integer-exact start-offset bucketing. */
  def packSequences(budget: Int, groupCol: String, idCol: String): String =
    s"""WITH t AS (SELECT $idCol, $groupCol,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
       |c AS (SELECT $idCol, $groupCol, n_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY $groupCol ORDER BY $idCol
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |      - n_tokens AS start_off FROM t)
       |SELECT $idCol, $groupCol, n_tokens,
       |  start_off // $budget AS seq_id, start_off % $budget AS seq_offset
       |FROM c""".stripMargin

  /** Mirror of TextAnalysis.repetition: max term frequency relationally
    * (unnest → per-token counts → max), 2-gram uniqueness via the same
    * rolling-hash shingles, ratios as single divisions. */
  def textRepetition: String =
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |tc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |top AS (SELECT doc_id, MAX(c) AS top FROM tc GROUP BY 1),
       |base AS (SELECT doc_id, len($toks)::BIGINT AS n,
       |           len(${shingleHashesN(2)})::BIGINT AS u2 FROM documents)
       |SELECT b.doc_id, b.n AS n_tokens, t.top AS top_tok_count,
       |  CAST(t.top AS DOUBLE) / b.n AS top_tok_ratio,
       |  greatest(b.n - 1, 0) AS n_2grams, b.u2 AS uniq_2grams,
       |  CASE WHEN b.n - 1 > 0 THEN CAST(b.n - 1 - b.u2 AS DOUBLE) / (b.n - 1)
       |       ELSE 0.0 END AS dup_2gram_ratio,
       |  (CAST(t.top AS DOUBLE) / b.n <= 0.2 AND
       |   CASE WHEN b.n - 1 > 0 THEN CAST(b.n - 1 - b.u2 AS DOUBLE) / (b.n - 1)
       |        ELSE 0.0 END <= 0.5) AS repetition_ok
       |FROM base b JOIN top t USING (doc_id)""".stripMargin

  /** Mirror of Sketches.approxDistinct: 60-bit md5-prefix hash, integer
    * register table, exact-integer harmonic sum, one final division. The
    * bias constant and 2^maxRank are interpolated from the SAME Scala
    * doubles the operator burns into its plan (Double.toString round-trips
    * exactly), so the estimate matches bit-for-bit. */
  def hllDistinct(p: Int, keyCol: String = "lang", valueCol: String = "text"): String = {
    val m = 1 << p
    val maxRank = 60 - p + 1
    val c1 = graft.operators.Sketches.alpha(p) * m * m
    val c2 = (1L << maxRank).toDouble // exact: maxRank <= 57
    s"""WITH h AS (SELECT $keyCol,
       |    CAST(concat('0x', substr(md5($valueCol), 1, 15)) AS BIGINT) AS h FROM documents),
       |b AS (SELECT $keyCol, h & ${m - 1} AS bucket,
       |        CASE WHEN (h >> $p) = 0 THEN $maxRank
       |             ELSE $maxRank - length(bin(h >> $p)) END AS r FROM h),
       |reg AS (SELECT $keyCol, bucket, MAX(r) AS register FROM b GROUP BY 1, 2),
       |agg AS (SELECT $keyCol,
       |          CAST(SUM((1::BIGINT) << ($maxRank - register)) AS BIGINT)
       |            + ($m - count(*)) * ((1::BIGINT) << $maxRank) AS s_int,
       |          $m - count(*) AS v_zero
       |        FROM reg GROUP BY 1)
       |SELECT $keyCol, s_int, v_zero,
       |  ($c1 * $c2) / CAST(s_int AS DOUBLE) AS hll_estimate
       |FROM agg""".stripMargin
  }

  /** Mirror of the q91 HLL set algebra: per-side register tables over the
    * token space, element-wise-max merge for the union, the shared
    * estimate formula, and inclusion-exclusion over the three doubles. */
  def vocabOverlap(newPct: Int, p: Int, idCol: String): String = {
    val m = 1 << p
    val maxRank = 60 - p + 1
    val c1 = graft.operators.Sketches.alpha(p) * m * m
    val c2 = (1L << maxRank).toDouble
    def regs(name: String, cond: String) =
      s"""t_$name AS (SELECT unnest($shingleHashes)::VARCHAR AS tok FROM documents
         |            WHERE ${sampleBucket(idCol)} $cond),
         |h_$name AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |            FROM t_$name),
         |reg_$name AS (SELECT h & ${m - 1} AS bucket,
         |                MAX(CASE WHEN (h >> $p) = 0 THEN $maxRank
         |                         ELSE $maxRank - length(bin(h >> $p)) END) AS register
         |              FROM h_$name GROUP BY 1)""".stripMargin
    def est(src: String, as: String) =
      s"""$as AS (SELECT ($c1 * $c2) / CAST(
         |    CAST(SUM((1::BIGINT) << ($maxRank - register)) AS BIGINT)
         |      + ($m - count(*)) * ((1::BIGINT) << $maxRank) AS DOUBLE) AS e
         |  FROM $src)""".stripMargin
    s"""WITH ${regs("a", s"< $newPct")},
       |${regs("b", s">= $newPct")},
       |reg_u AS (SELECT bucket, MAX(register) AS register FROM
       |            (SELECT * FROM reg_a UNION ALL SELECT * FROM reg_b)
       |          GROUP BY 1),
       |${est("reg_a", "ea")}, ${est("reg_b", "eb")}, ${est("reg_u", "eu")}
       |SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
       |  ea.e + eb.e - eu.e AS est_overlap,
       |  (ea.e + eb.e - eu.e) / eu.e AS overlap_ratio
       |FROM ea, eb, eu""".stripMargin
  }

  /** Mirror of TextAnalysis.coverageCurve: top-maxRank vocab under the
    * total (count desc, token asc) order, rank-ordered cumulative sums,
    * one exact division. */
  def coverageCurve(maxRank: Int): String =
    s"""WITH c AS (SELECT tok AS token, count(*) AS n FROM
       |             (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       |top AS (SELECT token, n,
       |          row_number() OVER (ORDER BY n DESC, token ASC) AS rank
       |        FROM c QUALIFY rank <= $maxRank)
       |SELECT rank, token, n,
       |  CAST(sum(n) OVER (ORDER BY rank) AS BIGINT) AS cum_n,
       |  CAST(sum(n) OVER (ORDER BY rank) AS DOUBLE) / CAST(total AS DOUBLE)
       |    AS coverage
       |FROM top, tot""".stripMargin

  /** Mirror of Dedup.decontaminateFuzzy over a hashSample(evalPct) eval
    * set: integer cross-multiplied shingle containment vs the eval side. */
  def decontaminateFuzzy(evalPct: Int, containPct: Int, idCol: String): String =
    s"""WITH ev AS (SELECT $idCol AS eid, ${shingleHashesN(3)} AS hs FROM documents
       |            WHERE ${sampleBucket(idCol)} < $evalPct),
       |ev2 AS (SELECT eid, len(hs) AS esz, hs FROM ev WHERE len(hs) > 0),
       |einv AS (SELECT eid, esz, unnest(hs) AS h FROM ev2),
       |cinv AS (SELECT $idCol AS cid, unnest(${shingleHashesN(3)}) AS h FROM documents),
       |hits AS (SELECT c.cid, e.eid, e.esz, count(*) AS hits
       |         FROM cinv c JOIN einv e USING (h) GROUP BY 1, 2, 3),
       |bad AS (SELECT DISTINCT cid FROM hits WHERE hits * 100 >= $containPct * esz)
       |SELECT d.* FROM documents d WHERE d.$idCol NOT IN (SELECT cid FROM bad)""".stripMargin

  /** Mirror of Dedup.contaminationReport over the hashSample(evalPct)
    * eval split vs its complement: distinct-hit counting, exact-integer
    * fraction, cross-multiplied verdict. */
  def contaminationReport(evalPct: Int, containPct: Int, idCol: String): String =
    s"""WITH ev AS (SELECT $idCol AS eval_id, ${shingleHashesN(3)} AS hs FROM documents
       |            WHERE ${sampleBucket(idCol)} < $evalPct),
       |ev2 AS (SELECT eval_id, len(hs)::BIGINT AS n_shingles, hs FROM ev
       |        WHERE len(hs) > 0),
       |einv AS (SELECT eval_id, unnest(hs) AS h FROM ev2),
       |cinv AS (SELECT unnest(${shingleHashesN(3)}) AS h FROM documents
       |         WHERE ${sampleBucket(idCol)} >= $evalPct),
       |hits AS (SELECT e.eval_id, count(DISTINCT e.h) AS nh
       |         FROM cinv c JOIN einv e USING (h) GROUP BY 1)
       |SELECT e.eval_id, e.n_shingles, COALESCE(h.nh, 0)::BIGINT AS n_hit,
       |  CAST(COALESCE(h.nh, 0) AS DOUBLE) / e.n_shingles AS contamination,
       |  COALESCE(h.nh, 0) * 100 >= $containPct * e.n_shingles AS contaminated
       |FROM ev2 e LEFT JOIN hits h USING (eval_id)""".stripMargin

  def embedNearDup(threshold: Double, dim: Int): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    s"""WITH n AS (SELECT vec_id AS id, embedding AS v, ($n2) AS n2 FROM embeddings)
       |SELECT x.id AS id_a, y.id AS id_b, ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
       |FROM n x JOIN n y ON x.id < y.id
       |WHERE ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) >= $threshold""".stripMargin
  }

  /** Mirror of TextAnalysis.vocabulary: top-k tokens by (freq desc,
    * token asc) — a total order, so the cut is deterministic. */
  def vocabulary(k: Int): String =
    s"""SELECT tok AS token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
       |FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
       |GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT $k""".stripMargin

  /** Mirror of Sampling.takePerStratum: exact per-stratum quotas by
    * (content bucket, id) rank. */
  def takePerStratum(n: Int, strataCol: String, idCol: String): String =
    s"""SELECT * EXCLUDE (__rank) FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $strataCol
       |    ORDER BY ${sampleBucket(idCol)} ASC, $idCol ASC) AS __rank
       |  FROM documents)
       |WHERE __rank <= $n""".stripMargin

  /** Mirror of the q51 cleaned corpus: keep each doc whose component
    * representative (min reachable id) is itself. */
  def dedupCorpus(threshold: Double, maxDocFreq: Int): String =
    s"""WITH comp AS (${dedupComponents(threshold, maxDocFreq)})
       |SELECT d.* FROM documents d JOIN comp c ON d.doc_id = c.doc_id
       |WHERE c.component = c.doc_id""".stripMargin

  /** Mirror of Dedup.crossCorpusPairs with the corpus split by sample
    * bucket (< newPct = the "new batch", rest = the existing corpus). */
  def crossCorpusPairs(newPct: Int, threshold: Double, maxDocFreq: Int,
      idCol: String): String =
    s"""WITH sets AS (SELECT $idCol AS id, ${sampleBucket(idCol)} AS b,
       |                $shingleHashes AS hs FROM documents),
       |sets2 AS (SELECT id, b, hs, len(hs) AS sz FROM sets WHERE len(hs) > 0),
       |inv AS (SELECT id, b, sz, unnest(hs) AS h FROM sets2),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= $maxDocFreq),
       |invf AS (SELECT inv.id, inv.b, inv.sz, inv.h FROM inv JOIN rare USING (h)),
       |inter AS (SELECT x.id AS new_id, x.sz AS sz_a, y.id AS old_id, y.sz AS sz_b,
       |                 count(*) AS inter
       |          FROM invf x JOIN invf y ON x.h = y.h
       |          WHERE x.b < $newPct AND y.b >= $newPct
       |          GROUP BY 1, 2, 3, 4)
       |SELECT new_id, old_id,
       |       CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) AS jaccard
       |FROM inter
       |WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $threshold""".stripMargin

  /** Mirror of the q48 CMS pipeline: grid = per-(row, col) occurrence
    * counts over token positions (same KM family as Bloom), estimate =
    * min over the depth cells for each distinct token. */
  def cmsTokenFreq(width: Int, depth: Int): String = {
    val h = s"CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)"
    val pos = s"((h >> 30) + i * ((h & 1073741823) * 2 + 1)) % $width"
    s"""WITH occ AS (SELECT unnest($toks) AS token FROM documents),
       |hh AS (SELECT token, $h AS h FROM occ),
       |p AS (SELECT $pos AS pos, i FROM hh
       |      CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) ii),
       |cms AS (SELECT i, pos, count(*) AS cnt FROM p GROUP BY 1, 2),
       |d AS (SELECT DISTINCT token FROM occ),
       |dh AS (SELECT token, $h AS h FROM d),
       |dp AS (SELECT token, i, $pos AS pos FROM dh
       |       CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) ii)
       |SELECT dp.token, CAST(MIN(cms.cnt) AS BIGINT) AS est_freq
       |FROM dp JOIN cms ON dp.i = cms.i AND dp.pos = cms.pos
       |GROUP BY 1""".stripMargin
  }

  /** Mirror of the q227 merged CMS grid — the construction half of
    * [[cmsTokenFreq]] emitted as the (row_idx, col_idx, cnt) state
    * table; the merge is exact, so the whole-corpus build IS the
    * oracle for the shard-and-merge path. */
  def cmsGrid(width: Int, depth: Int): String = {
    val h = s"CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)"
    val pos = s"((h >> 30) + i * ((h & 1073741823) * 2 + 1)) % $width"
    s"""WITH occ AS (SELECT unnest($toks) AS token FROM documents),
       |hh AS (SELECT token, $h AS h FROM occ),
       |p AS (SELECT i, $pos AS pos FROM hh
       |      CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) ii)
       |SELECT CAST(i AS INTEGER) AS row_idx, pos AS col_idx,
       |  count(*)::BIGINT AS cnt
       |FROM p GROUP BY 1, 2""".stripMargin
  }

  /** Mirror of the q228 composition: the q32 split verdict plus two
    * integer features, per-(split, feature) long-form parity rows. */
  def splitFeatureParity(testPct: Int, idCol: String): String = {
    val base = s"""SELECT CASE WHEN ${sampleBucket(idCol)} < $testPct
                  |    THEN 'test' ELSE 'train' END AS split,
                  |  n_chars, CAST(len($toks) AS BIGINT) AS n_tokens
                  |FROM documents""".stripMargin
    Seq("n_chars", "n_tokens").map { f =>
      s"""SELECT split, '$f' AS feature, count(*)::BIGINT AS n,
         |  CAST(min($f) AS BIGINT) AS min_v,
         |  CAST(max($f) AS BIGINT) AS max_v,
         |  CAST(sum($f) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_v
         |FROM ($base) GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Mirror of Sketches.histogramQuantiles: power-of-two buckets via
    * length(bin(v)), window cumsum, integer-until-one-division linear
    * interpolation in the straddling bucket. */
  def histogramQuantiles(pcts: Seq[Int], keyCol: String = "lang",
      valueCol: String = "n_chars"): String = {
    val base =
      s"""WITH c AS (SELECT $keyCol, length(bin($valueCol)) AS bucket, count(*) AS cnt
         |           FROM documents GROUP BY 1, 2),
         |cum AS (SELECT $keyCol, bucket, cnt,
         |  CAST(SUM(cnt) OVER (PARTITION BY $keyCol ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |  CAST(SUM(cnt) OVER (PARTITION BY $keyCol) AS BIGINT) AS n FROM c)""".stripMargin
    val selects = pcts.map { p =>
      val t = s"greatest((n * $p) // 100, 1)"
      s"""SELECT $keyCol, $p AS pct,
         |  CAST((1::BIGINT << (bucket - 1)) AS DOUBLE) +
         |  CAST(($t - (cum - cnt)) * ((1::BIGINT << bucket) - (1::BIGINT << (bucket - 1)))
         |    AS DOUBLE) / CAST(cnt AS DOUBLE) AS estimate
         |FROM cum WHERE cum >= $t AND cum - cnt < $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    base + "\n" + selects
  }

  /** Mirror of Sketches.bloomWords over a hashSample(evalPct) eval set:
    * Kirsch-Mitzenmacher positions from the 60-bit md5-prefix hash,
    * 63-bit words, bit_or aggregation. */
  def bloomWords(evalPct: Int, mBits: Int, k: Int, idCol: String): String =
    s"""WITH ev AS (SELECT text FROM documents WHERE ${sampleBucket(idCol)} < $evalPct),
       |h AS (SELECT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h FROM ev),
       |p AS (SELECT ((h >> 30) + i * ((h & 1073741823) * 2 + 1)) % $mBits AS pos
       |      FROM h CROSS JOIN (SELECT unnest(range(0, $k)) AS i) ii)
       |SELECT pos // ${graft.operators.Sketches.BloomWordBits} AS word_idx,
       |  bit_or(1::BIGINT << CAST(pos % ${graft.operators.Sketches.BloomWordBits} AS INT)) AS bits
       |FROM p GROUP BY 1""".stripMargin

  /** The SRP bit string `SrpBucketF32` computes, replayed relationally:
    * plane j's weight for component i (1-based) is
    * `((j*dim + i) * Mix) mod 2^32 - 2^31`; the projection is the same
    * ascending-index float→double accumulation (left-assoc chain), and
    * bit j is set iff the projection is > 0. */
  private def srpBits(vExpr: String, dim: Int, totalPlanes: Int): String = {
    // The outer per-plane sum is EXACT integer math, so it is summed as a
    // balanced tree (depth log2 n): at 60 planes the left-assoc chain plus
    // the (order-sensitive, left-assoc) 64-term double projection inside
    // each CASE blows DuckDB's 128-deep binder recursion limit.
    def tree(terms: Seq[String]): String =
      if (terms.size == 1) terms.head
      else {
        val (l, r) = terms.splitAt(terms.size / 2)
        s"(${tree(l)} + ${tree(r)})"
      }
    tree((0 until totalPlanes).map { j =>
      val terms = (1 to dim).map { i =>
        val w = ((j.toLong * dim + i) * Mix) % TextFunctions.TwoPow32 - (1L << 31)
        s"$vExpr[$i]::DOUBLE * ($w)"
      }.mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN ${1L << j} ELSE 0 END)"
    })
  }

  /** Mirror of SimilaritySearch.cosineNearDupPairsLsh: candidate pairs
    * share an nPlanes-bit slice of the SRP bit string in >= 1 of nTables
    * tables (an OR chain over bit slices), then exact cosine >= threshold.
    * The index is approximate; the SQL replay is exact. */
  /** Mirror of TextAnalysis.redact over PII-injected documents (the
    * fixture corpus contains no emails/numbers, so the declared query
    * injects them deterministically — q53's pattern). DuckDB
    * regexp_replace needs the 'g' flag for Spark's global-by-default
    * semantics. */
  def redactPii(emailPct: Int, numPct: Int, idCol: String): String = {
    val email = graft.operators.TextAnalysis.EmailRegex
    val num = graft.operators.TextAnalysis.LongNumberRegex
    s"""WITH injected AS (
       |  SELECT $idCol,
       |    CASE WHEN ${sampleBucket(idCol)} < $emailPct
       |           THEN text || ' contact bob' || ($idCol % 50)::VARCHAR || '@example.com now'
       |         WHEN ${sampleBucket(idCol)} < ${emailPct + numPct}
       |           THEN text || ' call 5551234' || ($idCol % 1000)::VARCHAR
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT $idCol,
       |  len(regexp_extract_all(text, '$email')) AS n_emails,
       |  len(regexp_extract_all(text, '$num')) AS n_numbers,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num', '<NUM>', 'g') AS text_redacted
       |FROM injected""".stripMargin
  }

  /** Symmetric int8 quantization summary — mirrors
    * `SimilaritySearch.quantizeInt8`: same absmax/127 scale, same
    * floor-plus-half code rule (never the engine's round()), same
    * base-31 polynomial checksum of the code sequence. */
  def quantizeInt8(dim: Int): String = {
    val absmax = (1 to dim).map(i => s"abs(embedding[$i]::DOUBLE)").mkString("greatest(", ", ", ")")
    val qDefs = (1 to dim).map(i =>
      s"CASE WHEN scale = 0 THEN 0 ELSE floor(embedding[$i]::DOUBLE / scale + 0.5)::BIGINT END AS q$i")
      .mkString(",\n    ")
    // Flat list_reduce, not a nested fold expression: 64 nested steps
    // exceed DuckDB's 128-deep binder recursion limit. Reduce-without-
    // seed starts from the first element, so the items are pre-shifted
    // (q+128) — the first fold step (0*31 + (q1+128)) % P == q1+128.
    val shifted = (1 to dim).map(i => s"q$i + 128").mkString("[", ", ", "]")
    val hash = s"list_reduce($shifted, (h, x) -> (h * 31 + x) % $P)"
    val qList = (1 to dim).map(i => s"q$i").mkString(", ")
    s"""WITH s AS (SELECT vec_id, embedding, $absmax / 127.0 AS scale FROM embeddings),
       |q AS (SELECT vec_id, scale,
       |    $qDefs
       |  FROM s)
       |SELECT vec_id, scale, least($qList) AS q_min, greatest($qList) AS q_max,
       |  $hash AS q_hash
       |FROM q""".stripMargin
  }

  /** Corpus-scale approximate kNN join: per vector, the top-k among its
    * SRP bucket-collision candidates (same bit replay as
    * [[embedNearDupLsh]]); the per-vector cut is a rank window over the
    * CTE's score column — identical bit patterns to Spark's score, so
    * the ordering (score desc, id asc) matches exactly. */
  def knnJoinLsh(k: Int, dim: Int, nPlanes: Int, nTables: Int): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    val mask = (1L << nPlanes) - 1
    val anyTable = (0 until nTables).map { t =>
      s"((x.bits >> ${t * nPlanes}) & $mask) = ((y.bits >> ${t * nPlanes}) & $mask)"
    }.mkString(" OR ")
    s"""WITH n AS (SELECT vec_id AS id, embedding AS v, ($n2) AS n2,
       |             ${srpBits("embedding", dim, nPlanes * nTables)} AS bits
       |           FROM embeddings),
       |c AS (SELECT x.id AS query_id, y.id AS cand_id,
       |        ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) AS score
       |      FROM n x JOIN n y ON x.id <> y.id AND ($anyTable))
       |SELECT query_id, cand_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, cand_id ASC) AS rank
       |FROM c QUALIFY rank <= $k""".stripMargin
  }

  /** Mirror of SimilaritySearch.annTopKLsh (q19): single-query ANN with
    * 1-bit multiprobe. A corpus vector is a candidate iff in >= 1 of
    * nTables tables its nPlanes-bit SRP slice equals the query's slice
    * OR differs in exactly one bit — i.e. slice XOR slice' is 0 or a
    * single bit, so `xor(...) IN (0, 1, 2, 4, ...)`. Candidates score by
    * the shared exact cosine (same bit replay as [[knnJoinLsh]], which
    * is hash-green), then the deterministic (score DESC, id ASC) top-k
    * cut. The index is approximate; the replay is exact. */
  def annTopKLsh(queryId: Long, k: Int, dim: Int, nPlanes: Int,
      nTables: Int): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXQ = dotTerms("x.v", "q.qv", dim)
    val mask = (1L << nPlanes) - 1
    val probeSet = (Seq(0L) ++ (0 until nPlanes).map(j => 1L << j)).mkString(", ")
    val anyTable = (0 until nTables).map { t =>
      s"xor((x.bits >> ${t * nPlanes}) & $mask, (q.qbits >> ${t * nPlanes}) & $mask) IN ($probeSet)"
    }.mkString("(", " OR ", ")")
    s"""WITH n AS (SELECT vec_id AS id, embedding AS v, ($n2) AS n2,
       |             ${srpBits("embedding", dim, nPlanes * nTables)} AS bits
       |           FROM embeddings),
       |q AS (SELECT v AS qv, n2 AS qn2, bits AS qbits FROM n WHERE id = $queryId)
       |SELECT x.id AS vec_id, ($dotXQ) / (sqrt(x.n2) * sqrt(q.qn2)) AS score
       |FROM n x, q
       |WHERE $anyTable
       |ORDER BY score DESC, x.id ASC LIMIT $k""".stripMargin
  }

  /** Mirror of Dedup.boilerplateSpans over a corpus with a deterministic
    * boilerplate suffix injected into a hash-sampled slice (the fixture
    * has no templated chrome; q53's injection pattern): distinct n-token
    * span hashes per doc, span document frequency, per-doc boilerplate
    * counts with a LEFT JOIN so span-less docs keep ratio 0. */
  def boilerplateSpans(injectPct: Int, suffix: String, n: Int,
      minDocs: Int, idCol: String): String =
    s"""WITH injected AS (
       |  SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' ${sqlLit(suffix)}' ELSE text END AS text
       |  FROM documents),
       |sets AS (SELECT $idCol, ${shingleHashesN(n)} AS hs FROM injected),
       |s2 AS (SELECT $idCol, len(hs) AS n_spans, hs FROM sets),
       |inv AS (SELECT $idCol, unnest(hs) AS h FROM s2),
       |boiler AS (SELECT h FROM inv GROUP BY h HAVING count(*) >= $minDocs),
       |pd AS (SELECT $idCol, count(*) AS nb FROM inv JOIN boiler USING (h) GROUP BY 1)
       |SELECT s2.$idCol, s2.n_spans,
       |  CAST(COALESCE(pd.nb, 0) AS BIGINT) AS n_boiler_spans,
       |  CASE WHEN s2.n_spans > 0
       |       THEN CAST(COALESCE(pd.nb, 0) AS DOUBLE) / s2.n_spans
       |       ELSE 0.0 END AS boiler_ratio
       |FROM s2 LEFT JOIN pd USING ($idCol)""".stripMargin

  /** Mirror of BpeTrain.train at fixed k: the iterative driver loop
    * unrolls into k chained CTE stages — stage i computes pair counts
    * over vocab s_i, picks the best pair b_i by the shared total order
    * (count DESC, left ASC, right ASC), and rewrites s_(i+1) via the
    * same literal wrapped-symbol replace ("|l||r|" → "|lr|") the Scala
    * side uses; both engines scan replace() left-to-right over
    * non-overlapping matches, which IS BPE's greedy merge. */
  /** Shared CTE chain for the BPE family: k training stages ending with
    * best-pair CTEs b1..bk. Every stage CTE is MATERIALIZED: each
    * s_(i+1) references s_i and b_i several times, so DuckDB's default
    * per-reference inlining would expand the k-stage chain exponentially
    * (observed as "too many open files" from 2^k parquet scans at
    * k = 10). */
  private def bpeCtes(k: Int): String = {
    val head =
      s"""WITH w0 AS MATERIALIZED (SELECT tok AS word, count(*) AS cnt
         |  FROM (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         |s1 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS s, cnt FROM w0)""".stripMargin
    val stages = (1 to k).map { i =>
      val next =
        if (i == k) ""
        else
          s""",
             |s${i + 1} AS MATERIALIZED (SELECT replace(s,
             |    '|' || (SELECT l FROM b$i) || '||' || (SELECT r FROM b$i) || '|',
             |    '|' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '|') AS s, cnt
             |  FROM s$i)""".stripMargin
      s""",
         |p$i AS MATERIALIZED (SELECT l, r, sum(cnt) AS c FROM (
         |    SELECT cnt, a[i] AS l, a[i+1] AS r FROM (
         |      SELECT cnt, a, unnest(range(1, len(a))) AS i FROM (
         |        SELECT cnt, string_split(trim(s, '|'), '||') AS a FROM s$i)))
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1)""".stripMargin + next
    }.mkString
    head + stages
  }

  def bpeMergeTable(k: Int): String = {
    val union = (1 to k).map { i =>
      s"SELECT CAST($i AS INT) AS merge_round, l AS left_sym, r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"${bpeCtes(k)}\n$union"
  }

  /** Mirror of BpeTrain.bpeTokenCount → TextAnalysis.packSequencesBy:
    * re-derive the k-round merge table (shared [[bpeCtes]] chain), apply
    * the merges to every document token with the same literal
    * wrapped-symbol replaces, sum post-merge symbol counts per doc, and
    * replay the contiguous per-group packing layout with integer-exact
    * offsets. */
  def bpePack(k: Int, budget: Int): String = {
    val docStages = (1 to k).map { i =>
      s""",
         |d${i + 1} AS MATERIALIZED (SELECT doc_id, replace(s,
         |    '|' || (SELECT l FROM b$i) || '||' || (SELECT r FROM b$i) || '|',
         |    '|' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '|') AS s
         |  FROM d$i)""".stripMargin
    }.mkString
    s"""${bpeCtes(k)},
       |d1 AS MATERIALIZED (SELECT doc_id,
       |    regexp_replace(tok, '(.)', '|\\1|', 'g') AS s
       |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents))$docStages,
       |dn AS (SELECT doc_id,
       |    sum(len(string_split(trim(s, '|'), '||')))::BIGINT AS n_tokens
       |  FROM d${k + 1} GROUP BY doc_id),
       |lay AS (SELECT d.doc_id, d.lang, dn.n_tokens,
       |    (SUM(dn.n_tokens) OVER (PARTITION BY d.lang ORDER BY d.doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |      - dn.n_tokens AS start_off
       |  FROM documents d JOIN dn ON d.doc_id = dn.doc_id)
       |SELECT doc_id, lang, n_tokens,
       |  start_off // $budget AS seq_id, start_off % $budget AS seq_offset
       |FROM lay""".stripMargin
  }

  /** Shared CTE chain for the URL family: synthesize the deterministic
    * messy URL (mirror of UrlOps.syntheticUrl — the corpus has no URL
    * column), parse it, normalize it, and extract the registered domain.
    * Suffix table and tracking prefixes interpolate from UrlOps so the
    * two sides cannot drift. Ends with CTE `n`(id, n_chars, url,
    * url_norm, reg_domain). */
  private def urlCtes(idCol: String): String = {
    val regDomain = graft.operators.UrlOps.PublicSuffixes
      .map { s =>
        val pat = "([^.]+[.]" + s.replace(".", "[.]") + ")$"
        s"WHEN regexp_extract(host, '$pat', 1) <> '' THEN regexp_extract(host, '$pat', 1)"
      }
      .mkString("CASE ", " ", " ELSE host END")
    val keepParam = graft.operators.UrlOps.TrackingPrefixes
      .map(t => s"substr(x, 1, ${t.length}) <> '${sqlLit(t)}'")
      .mkString("x <> '' AND ", " AND ", "")
    s"""WITH u AS (
       |  SELECT $idCol AS id, n_chars,
       |    CASE WHEN $idCol % 7 = 2 THEN 'http'
       |         WHEN $idCol % 11 = 0 THEN 'HTTPS' ELSE 'https' END AS sch,
       |    (CASE WHEN $idCol % 2 = 0 THEN 'www.' ELSE '' END ||
       |     CASE WHEN $idCol % 4 = 0 THEN 'example'
       |          WHEN $idCol % 4 = 1 THEN 'openweb'
       |          WHEN $idCol % 4 = 2 THEN 'corpus' ELSE 'mirror' END || '.' ||
       |     CASE WHEN $idCol % 3 = 0 THEN 'com'
       |          WHEN $idCol % 3 = 1 THEN 'co.uk' ELSE 'org' END) AS hb,
       |    CASE WHEN $idCol % 7 = 0 THEN ':443'
       |         WHEN $idCol % 7 = 1 THEN ':8080'
       |         WHEN $idCol % 7 = 2 THEN ':80' ELSE '' END AS prt,
       |    CASE WHEN $idCol % 13 = 0 THEN '?utm_source=only'
       |         WHEN $idCol % 2 = 0
       |           THEN '?utm_source=feed&q=' || ($idCol % 10) || '&utm_campaign=x'
       |         ELSE '?q=' || ($idCol % 10) || '&ref=home' END AS qry,
       |    CASE WHEN $idCol % 3 = 0 THEN '#section2' ELSE '' END AS frg
       |  FROM documents),
       |u2 AS (SELECT id, n_chars,
       |    sch || '://' || (CASE WHEN id % 5 = 0 THEN upper(hb) ELSE hb END) ||
       |    prt || '/docs/' || id || qry || frg AS url
       |  FROM u),
       |p AS (SELECT id, n_chars, url,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hp,
       |    regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
       |    regexp_extract(url, '[?]([^#]*)', 1) AS q
       |  FROM u2),
       |p2 AS (SELECT *, regexp_replace(hp, ':[0-9]+$$', '') AS host,
       |    regexp_extract(hp, ':([0-9]+)$$', 1) AS prt2,
       |    COALESCE(array_to_string(list_filter(string_split(q, '&'),
       |      x -> $keepParam), '&'), '') AS qn
       |  FROM p),
       |n AS (SELECT id, n_chars, url,
       |    scheme || '://' || host ||
       |    (CASE WHEN prt2 = '' OR (scheme = 'http' AND prt2 = '80')
       |          OR (scheme = 'https' AND prt2 = '443')
       |          THEN '' ELSE ':' || prt2 END) ||
       |    path || (CASE WHEN qn <> '' THEN '?' || qn ELSE '' END) AS url_norm,
       |    $regDomain AS reg_domain
       |  FROM p2)""".stripMargin
  }

  /** Mirror of the q77 per-doc URL pipeline: normalize + registered
    * domain + domain-level hash sampling (the sample hash is the rolling
    * hash of the registered domain through the shared Knuth bucket). */
  def urlNormalize(samplePct: Int, idCol: String): String =
    s"""${urlCtes(idCol)}
       |SELECT id AS $idCol, url, url_norm, reg_domain,
       |  ${sampleBucket(rh("reg_domain"))} < $samplePct AS domain_kept
       |FROM n""".stripMargin

  /** Mirror of the q79 per-domain rollup over normalized URLs. */
  def domainRollup(idCol: String): String =
    s"""${urlCtes(idCol)}
       |SELECT reg_domain, count(*) AS n_docs,
       |  count(DISTINCT url_norm) AS n_urls,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM n GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.corpusDrift over the hash-split halves:
    * per-token chi-square contributions with the identical left-assoc
    * double chains (expected counts inlined, not pre-bound — same IEEE
    * value either way). */
  def corpusDrift(newPct: Int, k: Int, idCol: String): String = {
    val eA = "(CAST((ca + cb) * ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))"
    val eB = "(CAST((ca + cb) * tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))"
    s"""WITH ca_t AS (SELECT tok AS token, count(*) AS ca FROM (
       |    SELECT unnest($toks) AS tok FROM documents
       |    WHERE ${sampleBucket(idCol)} < $newPct) GROUP BY 1),
       |cb_t AS (SELECT tok AS token, count(*) AS cb FROM (
       |    SELECT unnest($toks) AS tok FROM documents
       |    WHERE ${sampleBucket(idCol)} >= $newPct) GROUP BY 1),
       |j AS (SELECT token, COALESCE(ca, 0)::BIGINT AS ca,
       |        COALESCE(cb, 0)::BIGINT AS cb
       |      FROM ca_t FULL OUTER JOIN cb_t USING (token)),
       |tot AS (SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM j),
       |top AS (SELECT * FROM j ORDER BY ca + cb DESC, token ASC LIMIT $k)
       |SELECT token, ca AS cnt_a, cb AS cnt_b,
       |  CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
       |  CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
       |  ((CAST(ca AS DOUBLE) - $eA) * (CAST(ca AS DOUBLE) - $eA) / $eA)
       |    + ((CAST(cb AS DOUBLE) - $eB) * (CAST(cb AS DOUBLE) - $eB) / $eB)
       |    AS chi2
       |FROM top, tot""".stripMargin
  }

  /** Mirror of EventAnalytics.funnel: stage 1 anchors at the earliest
    * stage-1 event, each later stage at the earliest qualifying event
    * (strictly after the previous stage, within the gap) — the greedy
    * first-match CTE chain, one per stage. */
  def funnel(stages: Seq[String], maxGapMinutes: Int): String = {
    val ctes = stages.zipWithIndex.map { case (stage, i) =>
      if (i == 0)
        s"""s0 AS (SELECT user_id, min(ts) AS t FROM events
           |  WHERE event_type = '${sqlLit(stage)}' GROUP BY 1)""".stripMargin
      else
        s"""s$i AS (SELECT e.user_id, min(e.ts) AS t
           |  FROM events e JOIN s${i - 1} p ON e.user_id = p.user_id
           |  WHERE e.event_type = '${sqlLit(stage)}' AND e.ts > p.t
           |    AND e.ts <= p.t + INTERVAL $maxGapMinutes MINUTES
           |  GROUP BY 1)""".stripMargin
    }
    val rows = stages.zipWithIndex.map { case (stage, i) =>
      s"""SELECT '${sqlLit(stage)}' AS stage, $i AS stage_index,
         |  (SELECT count(*) FROM s$i) AS users_reached""".stripMargin
    }
    s"WITH ${ctes.mkString(",\n")}\n${rows.mkString("\nUNION ALL ")}"
  }

  /** Mirror of EventAnalytics.coEngagement on the props.k JSON item:
    * first-engagement agg, per-user rank cap, capped self-join, top-k
    * under the total (count desc, item_a, item_b) order. */
  def coEngagement(k: Int, maxItemsPerUser: Int): String =
    s"""WITH it AS (SELECT user_id,
       |    json_extract_string(props, '$$.k')::INTEGER AS item,
       |    min(ts) AS f
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |  GROUP BY 1, 2),
       |cap AS (SELECT user_id, item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY f, item) AS rn FROM it) WHERE rn <= $maxItemsPerUser)
       |SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_users
       |FROM cap a JOIN cap b ON a.user_id = b.user_id AND a.item < b.item
       |GROUP BY 1, 2
       |ORDER BY n_users DESC, item_a ASC, item_b ASC LIMIT $k""".stripMargin

  /** Mirror of the q114 two-relationship referential-integrity audit:
    * NOT-EXISTS orphan scan per relationship, identical rate division. */
  def refIntegrityAudit(dropParentBelowPct: Int): String = {
    def one(child: String, parent: String, fk: String, pk: String,
        parentFilter: String, rel: String) =
      s"""SELECT '${sqlLit(rel)}' AS relationship,
         |  (SELECT count(*) FROM $child)::BIGINT AS n_child_rows,
         |  count(*)::BIGINT AS n_orphan_rows,
         |  count(DISTINCT $fk)::BIGINT AS n_orphan_keys,
         |  CAST(count(*) AS DOUBLE)
         |    / CAST((SELECT count(*) FROM $child) AS DOUBLE) AS orphan_rate
         |FROM $child c WHERE $fk IS NOT NULL AND NOT EXISTS
         |  (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk$parentFilter)""".stripMargin
    one("orders", "customer", "o_custkey", "c_custkey", "",
      "orders->customer") + "\nUNION ALL\n" +
      one("lineitem", "orders", "l_orderkey", "o_orderkey",
        s" AND ${sampleBucket("p.o_orderkey")} < $dropParentBelowPct",
        "lineitem->orders[90pct]")
  }

  /** Mirror of the q115 join-size estimates: per-key counts joined on
    * the key, decimal product sum, max single-key term. */
  def joinSizeEstimate: String = {
    def one(lt: String, lk: String, rt: String, rk: String, rel: String) =
      s"""SELECT '${sqlLit(rel)}' AS relationship,
         |  count(*)::BIGINT AS n_shared_keys,
         |  CAST(sum(na * nb) AS BIGINT) AS predicted_rows,
         |  max(na * nb)::BIGINT AS max_single_key_rows
         |FROM (SELECT $lk AS k, count(*)::BIGINT AS na FROM $lt GROUP BY 1) a
         |JOIN (SELECT $rk AS k, count(*)::BIGINT AS nb FROM $rt GROUP BY 1) b
         |USING (k)""".stripMargin
    one("lineitem", "l_orderkey", "orders", "o_orderkey",
      "lineitem x orders") + "\nUNION ALL\n" +
      one("events", "user_id", "events", "user_id", "events x events (self)")
  }

  /** Mirror of TextAnalysis.sourceSimilarityMatrix: per-(group, token)
    * integer counts, integer norms and dots, one double cosine per pair. */
  def sourceSimilarityMatrix(groupCol: String): String =
    s"""WITH c AS (SELECT g, t, count(*)::BIGINT AS n FROM (
       |    SELECT $groupCol AS g, unnest($toks) AS t FROM documents)
       |  GROUP BY 1, 2),
       |nr AS (SELECT g, sum(n * n)::BIGINT AS n2 FROM c GROUP BY 1),
       |p AS (SELECT a.g AS source_a, b.g AS source_b,
       |        sum(a.n * b.n)::BIGINT AS dot
       |      FROM c a JOIN c b ON a.t = b.t AND a.g < b.g GROUP BY 1, 2)
       |SELECT source_a, source_b,
       |  CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       |    AS cosine
       |FROM p JOIN nr na ON source_a = na.g JOIN nr nb ON source_b = nb.g""".stripMargin

  /** Mirror of IO.compactionPlan over the q102 shard manifest: cumsum
    * window in shard order, integer-division bin assignment. */
  def compactionPlan(nShards: Int, targetSize: Long, idCol: String): String =
    s"""WITH m AS (SELECT (${sampleBucket(idCol)}) % $nShards AS shard_id,
       |             count(*)::BIGINT AS size
       |           FROM documents GROUP BY 1),
       |w AS (SELECT shard_id, size,
       |        CAST(sum(size) OVER (ORDER BY shard_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - size
       |          AS BIGINT) AS before
       |      FROM m)
       |SELECT shard_id, size, CAST(before // $targetSize AS BIGINT) AS bin_id
       |FROM w""".stripMargin

  /** Mirror of Dedup.crossSourceMatrixFromPairs over q14's pairs: the q14
    * pair CTE, source lookups on both sides, normalized-order rollup. */
  def crossSourceMatrix(threshold: Double, maxDocFreq: Int,
      groupCol: String): String =
    s"""WITH p AS (${ngramJaccardPairs(threshold, maxDocFreq)})
       |SELECT least(da.$groupCol, db.$groupCol) AS source_a,
       |  greatest(da.$groupCol, db.$groupCol) AS source_b,
       |  count(*)::BIGINT AS n_pairs
       |FROM p JOIN documents da ON p.id_a = da.doc_id
       |       JOIN documents db ON p.id_b = db.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Mirror of EventAnalytics.retentionCohorts: distinct weekly activity,
    * min-week cohorts, integer-division periods, period-0 base join. */
  def retentionCohorts: String =
    s"""WITH wk AS (SELECT DISTINCT user_id,
       |              date_trunc('week', ts)::TIMESTAMP AS wk
       |            FROM events),
       |coh AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1),
       |cnt AS (SELECT cohort AS cohort_week,
       |          (date_diff('day', cohort, wk) // 7)::INTEGER AS period,
       |          count(*)::BIGINT AS n_active
       |        FROM wk JOIN coh USING (user_id) GROUP BY 1, 2),
       |base AS (SELECT cohort_week, n_active AS n0 FROM cnt WHERE period = 0)
       |SELECT c.cohort_week, c.period, c.n_active,
       |  CAST(c.n_active AS DOUBLE) / CAST(b.n0 AS DOUBLE) AS retention
       |FROM cnt c JOIN base b USING (cohort_week)""".stripMargin

  /** Mirror of Sampling.leakageSafeSplit over the q14 pair graph: the
    * dedupComponents transitive closure plus the shared bucket filter on
    * the COMPONENT id. */
  def leakageSafeSplit(threshold: Double, maxDocFreq: Int,
      testPct: Int): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
       |  CASE WHEN ${sampleBucket("COALESCE(c.component, d.doc_id)")} < $testPct
       |       THEN 'test' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin

  /** Mirror of Profiler.keySkewReport on the events entity key: one
    * count agg, scalar total + shared-interpolation median, top-k cut. */
  def keySkewReport(keyCol: String, topK: Int): String =
    s"""WITH c AS (SELECT $keyCol::VARCHAR AS key, count(*)::BIGINT AS n
       |           FROM events GROUP BY 1),
       |s AS (SELECT sum(n)::BIGINT AS total, quantile_cont(n, 0.5) AS med
       |      FROM c),
       |top AS (SELECT * FROM c ORDER BY n DESC, key ASC LIMIT $topK)
       |SELECT key, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |  CAST(n AS DOUBLE) / med AS skew_vs_median
       |FROM top, s""".stripMargin

  /** Mirror of Dedup.pairSimilarityHistogram: candidate pairs at
    * threshold 0, decile buckets, constant-size cumulative window. */
  def pairSimilarityHistogram(maxDocFreq: Int): String =
    s"""WITH p AS (${ngramJaccardPairs(0.0, maxDocFreq)}),
       |h AS (SELECT floor(jaccard * 10)::INTEGER AS bucket,
       |        count(*)::BIGINT AS n_pairs FROM p GROUP BY 1)
       |SELECT CAST(bucket AS DOUBLE) / 10.0 AS threshold_lo, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_pairs_ge
       |FROM h""".stripMargin

  /** Mirror of Profiler.corpusDiff over the fixture's snapshot
    * derivation: old = bucket < oldMax, new = bucket >= newMin with
    * every revEvery-th id's text suffixed, md5 compare, full-outer CASE
    * verdict (DuckDB's USING coalesces the join key exactly as Spark's
    * Seq-key full outer does). */
  def corpusDiff(oldMax: Int, newMin: Int, revEvery: Int,
      idCol: String): String =
    s"""WITH a AS (SELECT $idCol, md5(text) AS ha FROM documents
       |           WHERE ${sampleBucket(idCol)} < $oldMax),
       |b AS (SELECT $idCol,
       |        md5(CASE WHEN $idCol % $revEvery = 0 THEN text || ' rev2'
       |                 ELSE text END) AS hb
       |      FROM documents WHERE ${sampleBucket(idCol)} >= $newMin)
       |SELECT $idCol,
       |  CASE WHEN ha IS NULL THEN 'added'
       |       WHEN hb IS NULL THEN 'removed'
       |       WHEN ha = hb THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM a FULL OUTER JOIN b USING ($idCol)""".stripMargin

  /** Mirror of StreamingOps.streamingCorpusDiff over the q104 fixture
    * (q262): the three stream-observable verdicts — a LEFT join from
    * the arriving side (no `removed`: absence is unobservable on an
    * unbounded stream). */
  def streamingCorpusDiff(oldMax: Int, newMin: Int, revEvery: Int,
      idCol: String): String =
    s"""WITH a AS (SELECT $idCol, md5(text) AS ha FROM documents
       |           WHERE ${sampleBucket(idCol)} < $oldMax),
       |b AS (SELECT $idCol,
       |        md5(CASE WHEN $idCol % $revEvery = 0 THEN text || ' rev2'
       |                 ELSE text END) AS hb
       |      FROM documents WHERE ${sampleBucket(idCol)} >= $newMin)
       |SELECT b.$idCol,
       |  CASE WHEN ha IS NULL THEN 'added'
       |       WHEN ha = hb THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM b LEFT JOIN a USING ($idCol)""".stripMargin

  /** Mirror of Profiler.anonymityAudit over customer: one class agg, one
    * scalar total, the identical double division. */
  def anonymityAudit(quasiCols: Seq[String], k: Int, table: String): String = {
    val qs = quasiCols.mkString(", ")
    s"""WITH g AS (SELECT $qs, count(*)::BIGINT AS class_size
       |           FROM $table GROUP BY $qs),
       |t AS (SELECT count(*)::BIGINT AS n FROM $table)
       |SELECT $qs, class_size,
       |  CAST(class_size AS DOUBLE) / CAST(n AS DOUBLE) AS share,
       |  class_size < $k AS at_risk
       |FROM g, t""".stripMargin
  }

  /** Mirror of IO.shardManifest over documents: shared bucket mod
    * nShards, bit-XOR of the rolling text hash. */
  def shardManifest(nShards: Int, idCol: String): String =
    s"""SELECT (${sampleBucket(idCol)}) % $nShards AS shard_id,
       |  count(*)::BIGINT AS n_rows,
       |  min($idCol) AS min_id, max($idCol) AS max_id,
       |  bit_xor(${rh("text")}) AS checksum
       |FROM documents GROUP BY 1""".stripMargin

  /** Mirror of Profiler.profile over a named table: one UNION ALL branch
    * per column, identical string casts for min/max. */
  def profile(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of the q99 multi-signal composition: 64-bit SimHash text
    * pairs (the at-scale hash — see [[simhash64Pairs]]; 32 bits
    * manufacture ~160 K false pairs at 500 K docs, fusing unrelated
    * components) and pHash media pairs union into one graph; components
    * via the same transitive-closure replay as [[dedupComponents]]. */
  def multiSignalComponents(maxHamming: Int): String =
    s"""WITH RECURSIVE tp AS (${simhash64Pairs(maxHamming)}),
       |mp AS (${phashPairs(maxHamming)}),
       |pairs AS (SELECT id_a, id_b FROM tp
       |          UNION SELECT media_id_a, media_id_b FROM mp),
       |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin

  /** Mirror of the q98 PII-by-domain rollup: q61's injection, q79's
    * registered-domain key, one grouped aggregation. */
  def piiByDomain(emailPct: Int, numPct: Int, idCol: String): String = {
    val email = graft.operators.TextAnalysis.EmailRegex
    val num = graft.operators.TextAnalysis.LongNumberRegex
    s"""${urlCtes(idCol)},
       |injected AS (
       |  SELECT $idCol,
       |    CASE WHEN ${sampleBucket(idCol)} < $emailPct
       |           THEN text || ' contact bob' || ($idCol % 50)::VARCHAR || '@example.com now'
       |         WHEN ${sampleBucket(idCol)} < ${emailPct + numPct}
       |           THEN text || ' call 5551234' || ($idCol % 1000)::VARCHAR
       |         ELSE text END AS text
       |  FROM documents),
       |r AS (SELECT $idCol AS id,
       |    len(regexp_extract_all(text, '$email')) AS n_emails,
       |    len(regexp_extract_all(text, '$num')) AS n_numbers
       |  FROM injected),
       |j AS (SELECT n.reg_domain, r.n_emails, r.n_numbers FROM n JOIN r USING (id))
       |SELECT reg_domain, count(*) AS n_docs,
       |  sum(CASE WHEN n_emails + n_numbers > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pii_docs,
       |  sum(n_emails)::BIGINT AS total_emails,
       |  sum(n_numbers)::BIGINT AS total_numbers,
       |  CAST(sum(CASE WHEN n_emails + n_numbers > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS pii_rate
       |FROM j GROUP BY 1""".stripMargin
  }

  /** Mirror of Dedup.stitchCandidates over the seam-injected corpus: a
    * hash-sampled slice splits in half with a k-token overlap, then
    * suffix-hash joins against prefix-hash. */
  def docStitching(splitPct: Int, minTokens: Int, k: Int, idCol: String): String =
    s"""WITH d0 AS (SELECT $idCol, text, $toks AS tk, len($toks) AS n FROM documents),
       |d AS (SELECT *, (${sampleBucket(idCol)} < $splitPct AND n >= $minTokens) AS can_split,
       |        n // 2 AS half FROM d0),
       |corpus AS (
       |  SELECT $idCol * 2 AS id,
       |    CASE WHEN can_split
       |      THEN array_to_string(list_slice(tk, 1, half + $k), ' ')
       |      ELSE text END AS text
       |  FROM d
       |  UNION ALL
       |  SELECT $idCol * 2 + 1,
       |    array_to_string(list_slice(tk, half + 1, n), ' ')
       |  FROM d WHERE can_split),
       |c2 AS (SELECT id, string_split(text, ' ') AS tk2,
       |         len(string_split(text, ' ')) AS n2 FROM corpus),
       |h AS (SELECT id,
       |    ${rh(s"array_to_string(list_slice(tk2, 1, $k), ' ')")} AS pref,
       |    ${rh(s"array_to_string(list_slice(tk2, n2 - $k + 1, n2), ' ')")} AS suf
       |  FROM c2 WHERE n2 >= $k)
       |SELECT x.id AS id_a, y.id AS id_b
       |FROM h x JOIN h y ON x.suf = y.pref AND x.id <> y.id""".stripMargin

  /** Mirror of UrlOps.domainReputationFilter: the synthetic URL space
    * supplies registered domains, the q63 blacklist injection supplies
    * failing docs, and the per-doc verdict replays qualityKeep's default
    * rule battery (kept textually in sync with [[qualityFilter]]'s
    * builder). Domain verdict is integer cross-multiplied; the
    * broadcast-back replays as a plain join. */
  def domainReputation(injectPct: Int, injectSuffix: String,
      minPassPct: Int, idCol: String): String = {
    val stops = markerLen(TextFunctions.LangMarkers.head._2)
    val black = graft.operators.TextAnalysis.BlacklistPhrases
      .map(p => s"NOT contains(text, '${sqlLit(p)}')").mkString("(", " AND ", ")")
    val okN = s"(len($toks) >= 15 AND len($toks) <= 100000)"
    val mtl = s"(CAST(length(text) - (len($toks) - 1) AS DOUBLE) / len($toks))"
    val okLen = s"($mtl >= 4.0 AND $mtl <= 12.0)"
    val okRep = s"(CAST(t.top AS DOUBLE) / len($toks) <= 0.2)"
    val okStop = s"($stops >= 2)"
    val keep = Seq(okN, okLen, okRep, okStop, black).mkString("(", " AND ", ")")
    s"""${urlCtes(idCol)},
       |injected AS (
       |  SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' ${sqlLit(injectSuffix)}' ELSE text END AS text
       |  FROM documents),
       |tk AS (SELECT $idCol, unnest($toks) AS tok FROM injected),
       |tc AS (SELECT $idCol, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |top AS (SELECT $idCol, MAX(c) AS top FROM tc GROUP BY 1),
       |k AS (SELECT d.$idCol AS id, $keep AS ok
       |      FROM injected d JOIN top t USING ($idCol)),
       |j AS (SELECT n.id, n.reg_domain, k.ok FROM n JOIN k USING (id)),
       |dom AS (SELECT reg_domain, count(*) AS n_domain_docs,
       |          sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_domain_ok
       |        FROM j GROUP BY 1)
       |SELECT j.id AS $idCol, j.reg_domain, j.ok AS doc_keep,
       |  dom.n_domain_docs, dom.n_domain_ok
       |FROM j JOIN dom USING (reg_domain)
       |WHERE dom.n_domain_ok * 100 >= $minPassPct * dom.n_domain_docs""".stripMargin
  }

  /** Mirror of Dedup.dedupSubstringRuns over a corpus with a
    * deterministic duplicated paragraph appended to a hash-sampled slice
    * (q53's injection pattern — natural 8-token spans in the fixture are
    * unique, so without injection the remover would be near-vacuous).
    * Span starts / removal positions are 0-based integer arithmetic;
    * DuckDB's list_filter index is 1-based where Spark's filter index is
    * 0-based, hence the `i - 1`. The occurrence key packs
    * (id mod 2^31, pos) exactly like the Scala side. */
  def dedupSubstringRuns(injectPct: Int, suffix: String, n: Int,
      idCol: String): String = {
    val idFold = graft.operators.Sampling.IdFold
    s"""WITH injected AS (
       |  SELECT $idCol AS id, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' ${sqlLit(suffix)}' ELSE text END AS text
       |  FROM documents),
       |t AS (SELECT id, $toks AS tk, len($toks) AS nt FROM injected),
       |s AS (SELECT id, tk, unnest(range(0, nt - ${n - 1})) AS pos FROM t),
       |sh AS (SELECT id, pos,
       |         ${rh(s"array_to_string(list_slice(tk, pos + 1, pos + $n), ' ')")} AS h,
       |         (id % $idFold) * 1048576 + pos AS ok
       |       FROM s),
       |dup AS (SELECT h, min(ok) AS keeper FROM sh GROUP BY h HAVING count(*) >= 2),
       |rem AS (SELECT DISTINCT id, tp FROM (
       |          SELECT sh.id, unnest(range(sh.pos, sh.pos + $n)) AS tp
       |          FROM sh JOIN dup USING (h) WHERE sh.ok <> dup.keeper)),
       |ragg AS (SELECT id, count(*) AS nr, list(tp) AS rl FROM rem GROUP BY id)
       |SELECT t.id AS $idCol, CAST(t.nt AS INT) AS n_tokens,
       |  CAST(COALESCE(r.nr, 0) AS BIGINT) AS n_removed,
       |  COALESCE(CASE WHEN r.id IS NULL THEN array_to_string(t.tk, ' ')
       |       ELSE array_to_string(list_filter(t.tk,
       |              (x, i) -> NOT list_contains(r.rl, i - 1)), ' ')
       |       END, '') AS text_deduped
       |FROM t LEFT JOIN ragg r USING (id)""".stripMargin
  }

  /** Mirror of TextAnalysis.qualityFilter over a corpus with the
    * blacklist phrase injected into a hash-sampled slice (the fixture
    * contains no boilerplate chrome, so the blacklist branch needs
    * injected rows to fire under the oracle). The max-term-frequency
    * signal is computed relationally (textRepetition's tc/top CTEs). */
  def qualityFilter(injectPct: Int, injectSuffix: String,
      minTokens: Int, maxTokens: Int, minMeanTokLen: Double,
      maxMeanTokLen: Double, maxTopTokRatio: Double, minStopwords: Int,
      idCol: String): String = {
    val stops = markerLen(TextFunctions.LangMarkers.head._2)
    val black = graft.operators.TextAnalysis.BlacklistPhrases
      .map(p => s"NOT contains(text, '${sqlLit(p)}')").mkString("(", " AND ", ")")
    val okN = s"(len($toks) >= $minTokens AND len($toks) <= $maxTokens)"
    val mtl = s"(CAST(length(text) - (len($toks) - 1) AS DOUBLE) / len($toks))"
    val okLen = s"($mtl >= $minMeanTokLen AND $mtl <= $maxMeanTokLen)"
    val okRep = s"(CAST(t.top AS DOUBLE) / len($toks) <= $maxTopTokRatio)"
    val okStop = s"($stops >= $minStopwords)"
    val rules = Seq(okN, okLen, okRep, okStop, black)
    val nFailed = rules.map(r => s"(CASE WHEN $r THEN 0 ELSE 1 END)").mkString(" + ")
    s"""WITH injected AS (
       |  SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' ${sqlLit(injectSuffix)}' ELSE text END AS text
       |  FROM documents),
       |tk AS (SELECT $idCol, unnest($toks) AS tok FROM injected),
       |tc AS (SELECT $idCol, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |top AS (SELECT $idCol, MAX(c) AS top FROM tc GROUP BY 1)
       |SELECT d.$idCol,
       |  len($toks) AS n_tokens,
       |  $mtl AS mean_token_len,
       |  CAST(t.top AS DOUBLE) / len($toks) AS top_tok_ratio,
       |  $stops AS n_stopwords,
       |  $okN AS ok_n_tokens,
       |  $okLen AS ok_tok_len,
       |  $okRep AS ok_repetition,
       |  $okStop AS ok_stopwords,
       |  $black AS ok_blacklist,
       |  $nFailed AS n_failed,
       |  ($nFailed) = 0 AS keep
       |FROM injected d JOIN top t USING ($idCol)""".stripMargin
  }

  /** Mirror of Dedup.bandTuningSweep: one signature CTE, per-config
    * band-collision candidate counts. */
  def bandTuningSweep(configs: Seq[(Int, Int)], k: Int,
      idCol: String): String = {
    val sig =
      s"""list_transform(range(0, $k), i ->
         |  list_min(list_transform(hs, h -> ((2*i + 1)*h + $SigB*i + 1) % $P)))""".stripMargin
    val bkCtes = configs.map { case (bands, r) =>
      s"""bk_$bands AS (SELECT s.id, bd.band,
         |    array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
         |  FROM sigs s CROSS JOIN
         |    (SELECT unnest(range(0, $bands)) AS band) bd)""".stripMargin
    }.mkString(",\n")
    val rows = configs.map { case (bands, r) =>
      s"""SELECT CAST($bands AS INTEGER) AS n_bands,
         |  CAST($r AS INTEGER) AS rows_per_band,
         |  (SELECT count(*) FROM (
         |     SELECT DISTINCT x.id AS a, y.id AS b
         |     FROM bk_$bands x JOIN bk_$bands y
         |       ON x.band = y.band AND x.key = y.key AND x.id < y.id))::BIGINT
         |    AS n_candidates""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sets AS (SELECT $idCol AS id, $shingleHashes AS hs FROM documents),
       |s2 AS (SELECT id, hs FROM sets WHERE len(hs) > 0),
       |sigs AS (SELECT id, $sig AS sig FROM s2),
       |$bkCtes
       |$rows""".stripMargin
  }

  /** Mirror of UrlOps.trackingParamProfile over the synthetic URL
    * space: per-domain utm_ incidence. */
  def trackingParamProfile(idCol: String): String =
    s"""${urlCtes(idCol)}
       |SELECT reg_domain, count(*)::BIGINT AS n_urls,
       |  CAST(sum(CASE WHEN contains(url, '?utm_') OR contains(url, '&utm_')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tracking,
       |  CAST((sum(CASE WHEN contains(url, '?utm_') OR contains(url, '&utm_')
       |    THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS tracking_per_mille
       |FROM n GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.ruleCofailureMatrix: the q63 battery CTE
    * (with its injection), one scalar agg of all fail/both counts,
    * 10-row union with NULLIF-guarded Jaccard. */
  def ruleCofailureMatrix(injectPct: Int, injectSuffix: String,
      minTokens: Int, maxTokens: Int, minMeanTokLen: Double,
      maxMeanTokLen: Double, maxTopTokRatio: Double, minStopwords: Int,
      idCol: String): String = {
    val rules = Seq("ok_n_tokens", "ok_tok_len", "ok_repetition",
      "ok_stopwords", "ok_blacklist")
    val pairs = for {
      i <- rules.indices; j <- (i + 1) until rules.size
    } yield (rules(i), rules(j))
    val failSums = rules.map(r =>
      s"sum(CASE WHEN NOT $r THEN 1 ELSE 0 END) AS f_$r").mkString(",\n  ")
    val bothSums = pairs.map { case (a, b) =>
      s"sum(CASE WHEN NOT $a AND NOT $b THEN 1 ELSE 0 END) AS b_${a}__$b"
    }.mkString(",\n  ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS rule_a, '$b' AS rule_b,
         |  CAST(f_$a AS BIGINT) AS n_fail_a,
         |  CAST(f_$b AS BIGINT) AS n_fail_b,
         |  CAST(b_${a}__$b AS BIGINT) AS n_both_fail,
         |  CAST(b_${a}__$b AS DOUBLE)
         |    / NULLIF(CAST(f_$a + f_$b - b_${a}__$b AS DOUBLE), 0)
         |    AS cofail_jaccard
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qf AS MATERIALIZED (${qualityFilter(injectPct, injectSuffix,
          minTokens, maxTokens, minMeanTokLen, maxMeanTokLen,
          maxTopTokRatio, minStopwords, idCol)}),
       |a AS (SELECT
       |  $failSums,
       |  $bothSums
       |FROM qf)
       |$rows""".stripMargin
  }

  /** Mirror of SimilaritySearch.labelCentroidMatrix: per-label
    * micro-integer centroid sums, all-pairs cosine over the bounded
    * label table. */
  def labelCentroidMatrix(dim: Int): String = {
    val sums = (1 to dim).map(d =>
      s"sum(CAST(floor(embedding[$d]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS s$d")
      .mkString(", ")
    def cd(p: String, d: Int) = s"($p.s$d::DOUBLE / ($p.n::DOUBLE * 1000000.0))"
    val dotC = (1 to dim).map(d => s"${cd("x", d)} * ${cd("y", d)}").mkString(" + ")
    val n2a = (1 to dim).map(d => s"${cd("x", d)} * ${cd("x", d)}").mkString(" + ")
    val n2b = (1 to dim).map(d => s"${cd("y", d)} * ${cd("y", d)}").mkString(" + ")
    s"""WITH c AS (SELECT label, count(*)::BIGINT AS n, $sums
       |           FROM embeddings GROUP BY 1)
       |SELECT x.label AS label_a, y.label AS label_b,
       |  x.n AS n_a, y.n AS n_b,
       |  ($dotC) / (sqrt($n2a) * sqrt($n2b)) AS centroid_cosine
       |FROM c x JOIN c y ON x.label < y.label""".stripMargin
  }

  /** Mirror of the q250 one-row corpus summary: each scalar the
    * headline of an independently-oracled report, assembled with the
    * component CTEs. */
  def corpusSummary(threshold: Double, maxDocFreq: Int, minTokens: Int,
      maxTokens: Int, minMeanTokLen: Double, maxMeanTokLen: Double,
      maxTopTokRatio: Double, minStopwords: Int, idCol: String): String =
    s"""WITH base AS (SELECT count(*)::BIGINT AS n_docs,
       |    count(DISTINCT lang)::BIGINT AS n_langs,
       |    count(DISTINCT source)::BIGINT AS n_sources,
       |    CAST(sum(len($toks)) AS BIGINT) AS total_tokens
       |  FROM documents),
       |dup AS (SELECT CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
       |            AS BIGINT) AS n_exact_dup_docs
       |        FROM (SELECT md5(text) AS h, count(*) AS c FROM documents
       |              GROUP BY 1)),
       |pr AS (SELECT count(*)::BIGINT AS n_near_dup_pairs
       |       FROM (${ngramJaccardPairs(threshold, maxDocFreq)})),
       |qf AS (SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_quality_keep
       |       FROM (${qualityFilter(0, "", minTokens, maxTokens,
          minMeanTokLen, maxMeanTokLen, maxTopTokRatio, minStopwords,
          idCol)}))
       |SELECT base.*, dup.n_exact_dup_docs, pr.n_near_dup_pairs,
       |  qf.n_quality_keep,
       |  CAST((qf.n_quality_keep * 1000) // base.n_docs AS BIGINT)
       |    AS keep_per_mille
       |FROM base, dup, pr, qf""".stripMargin

  /** Mirror of EventAnalytics.freshnessAudit: per-type max timestamp,
    * integer-minute staleness vs the literal reference. */
  def freshnessAudit(reference: String, maxStalenessMinutes: Long): String =
    s"""WITH a AS (SELECT event_type, max(ts) AS last_ts,
       |             count(*)::BIGINT AS n_events FROM events GROUP BY 1)
       |SELECT event_type, last_ts, n_events,
       |  (epoch_us(TIMESTAMP '$reference') - epoch_us(last_ts))
       |    // 60000000 AS staleness_minutes,
       |  (epoch_us(TIMESTAMP '$reference') - epoch_us(last_ts))
       |    // 60000000 <= $maxStalenessMinutes AS fresh
       |FROM a""".stripMargin

  /** Mirror of EventAnalytics.activeDayRatio: distinct epoch-days per
    * entity, inclusive span, per-mille share. */
  def activeDayRatio: String =
    s"""WITH d AS (SELECT DISTINCT user_id,
       |             epoch_us(date_trunc('day', ts)) // 86400000000 AS d
       |           FROM events),
       |a AS (SELECT user_id, count(*)::BIGINT AS active_days,
       |        CAST(max(d) - min(d) + 1 AS BIGINT) AS span_days
       |      FROM d GROUP BY 1)
       |SELECT user_id, active_days, span_days,
       |  CAST((active_days * 1000) // span_days AS BIGINT)
       |    AS active_per_mille
       |FROM a""".stripMargin

  /** Mirror of EventAnalytics.weeklyMixDrift: (week, type) cells,
    * window totals, the identical expected/chi-square chains. */
  def weeklyMixDrift: String =
    s"""WITH c AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP)
       |             AS week_start, event_type, count(*)::BIGINT AS n
       |           FROM events GROUP BY 1, 2),
       |t AS (SELECT week_start, event_type, n,
       |        sum(n) OVER (PARTITION BY week_start) AS wt,
       |        sum(n) OVER (PARTITION BY event_type) AS tt,
       |        sum(n) OVER () AS gt
       |      FROM c)
       |SELECT week_start, event_type, n,
       |  CAST(wt * tt AS DOUBLE) / CAST(gt AS DOUBLE) AS expected,
       |  (CAST(n AS DOUBLE) - CAST(wt * tt AS DOUBLE) / CAST(gt AS DOUBLE))
       |    * (CAST(n AS DOUBLE) - CAST(wt * tt AS DOUBLE) / CAST(gt AS DOUBLE))
       |    / (CAST(wt * tt AS DOUBLE) / CAST(gt AS DOUBLE))
       |    AS chi2_contribution
       |FROM t""".stripMargin

  /** Mirror of EventAnalytics.firstTouchAttribution: earliest touch in
    * the preceding window, (ts asc, id asc) pick. */
  def firstTouchAttribution(windowMinutes: Long): String =
    s"""SELECT p.event_id, p.ts, p.user_id,
       |  t.event_id AS touch_id, t.event_type AS touch_type,
       |  t.ts AS touch_ts
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN (SELECT * FROM events
       |           WHERE event_type IN ('click', 'view')) t
       |  ON p.user_id = t.user_id AND t.ts <= p.ts
       |  AND t.ts >= p.ts - INTERVAL $windowMinutes MINUTES
       |QUALIFY row_number() OVER (PARTITION BY p.event_id
       |  ORDER BY t.ts ASC NULLS LAST, t.event_id ASC NULLS LAST) = 1""".stripMargin

  /** Mirror of EventAnalytics.gapHistogram: per-entity lag gaps, zero
    * band, bit-length bands. */
  def gapHistogram: String =
    s"""WITH g AS (SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap
       |    FROM events),
       |b AS (SELECT CASE WHEN gap = 0 THEN 0
       |        ELSE CAST(length(bin(gap)) AS INTEGER) END AS band, gap
       |      FROM g WHERE gap IS NOT NULL)
       |SELECT band, count(*)::BIGINT AS n_gaps,
       |  CAST(min(gap) AS BIGINT) AS min_gap_s,
       |  CAST(max(gap) AS BIGINT) AS max_gap_s
       |FROM b GROUP BY 1""".stripMargin

  /** Mirror of Profiler.massMedian: per-group cumulative mass under the
    * (value, id) total order, cross-multiplied half-mass pick. */
  def massMedian(table: String, groupCol: String, valueCol: String,
      idCol: String): String =
    s"""WITH r AS (SELECT $groupCol, $valueCol,
       |    sum($valueCol) OVER (PARTITION BY $groupCol
       |      ORDER BY $valueCol, $idCol ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum($valueCol) OVER (PARTITION BY $groupCol) AS tot
       |  FROM $table)
       |SELECT $groupCol, count(*)::BIGINT AS n_rows,
       |  CAST(max(tot) AS BIGINT) AS total_mass,
       |  CAST(min(CASE WHEN 2 * cum >= tot THEN $valueCol END) AS BIGINT)
       |    AS mass_median
       |FROM r GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.transitionDeterminism: the q75 lead
    * edges, per-from totals, (count desc, to desc) argmax. */
  def transitionDeterminism: String =
    s"""WITH e AS (SELECT user_id, event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |c AS (SELECT from_type, to_type, count(*)::BIGINT AS c FROM e
       |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT from_type, to_type, c,
       |        sum(c) OVER (PARTITION BY from_type) AS tot,
       |        row_number() OVER (PARTITION BY from_type
       |          ORDER BY c DESC, to_type DESC) AS rn
       |      FROM c)
       |SELECT from_type, CAST(tot AS BIGINT) AS n_transitions,
       |  to_type AS top_to, c AS top_count,
       |  CAST((c * 1000) // tot AS BIGINT) AS det_per_mille
       |FROM r WHERE rn = 1""".stripMargin

  /** Mirror of the q241 composition: Jaccard-0.6 pairs vs SimHash-3
    * pairs, canonicalized, full-outer agreement scalars. */
  def methodAgreement(threshold: Double, maxDocFreq: Int,
      maxHamming: Int): String =
    s"""WITH jp AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |sp AS MATERIALIZED (${simhash64Pairs(maxHamming)}),
       |cl AS (SELECT DISTINCT least(id_a, id_b) AS a,
       |         greatest(id_a, id_b) AS b FROM jp WHERE id_a <> id_b),
       |cr AS (SELECT DISTINCT least(id_a, id_b) AS a,
       |         greatest(id_a, id_b) AS b FROM sp WHERE id_a <> id_b),
       |j AS (SELECT COALESCE(cl.a, cr.a) AS a, COALESCE(cl.b, cr.b) AS b,
       |        cl.a IS NOT NULL AS inl, cr.a IS NOT NULL AS inr
       |      FROM cl FULL OUTER JOIN cr ON cl.a = cr.a AND cl.b = cr.b)
       |SELECT CAST(sum(CASE WHEN inl THEN 1 ELSE 0 END) AS BIGINT) AS n_left,
       |  CAST(sum(CASE WHEN inr THEN 1 ELSE 0 END) AS BIGINT) AS n_right,
       |  CAST(sum(CASE WHEN inl AND inr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_both,
       |  count(*)::BIGINT AS n_union,
       |  CAST(sum(CASE WHEN inl AND inr THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS agreement
       |FROM j""".stripMargin

  /** Mirror of the q242 composition: corpus vocabulary and token mass
    * before vs after the q51 dedup, one scalar row. */
  def dedupVocabImpact(threshold: Double, maxDocFreq: Int): String =
    s"""WITH corpus AS MATERIALIZED (${dedupCorpus(threshold, maxDocFreq)}),
       |f AS (SELECT count(DISTINCT tok)::BIGINT AS vocab_full,
       |        count(*)::BIGINT AS tokens_full
       |      FROM (SELECT unnest($toks) AS tok FROM documents)),
       |d AS (SELECT count(DISTINCT tok)::BIGINT AS vocab_dedup,
       |        count(*)::BIGINT AS tokens_dedup
       |      FROM (SELECT unnest(string_split(text, ' ')) AS tok
       |            FROM corpus))
       |SELECT f.vocab_full, d.vocab_dedup, f.tokens_full, d.tokens_dedup,
       |  CAST(d.vocab_dedup AS DOUBLE) / CAST(f.vocab_full AS DOUBLE)
       |    AS vocab_ratio,
       |  CAST(d.tokens_dedup AS DOUBLE) / CAST(f.tokens_full AS DOUBLE)
       |    AS token_ratio
       |FROM f, d""".stripMargin

  /** Mirror of Dedup.clusterCohesion: the recursive closure's clusters,
    * canonical edges with their Jaccard, per-cluster edge stats and the
    * identical density/mean chains. */
  def clusterCohesion(threshold: Double, maxDocFreq: Int): String =
    s"""WITH RECURSIVE ${closureCtes(threshold, maxDocFreq)},
       |pw AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |mem AS (SELECT component, count(*)::BIGINT AS n_members FROM comp
       |        GROUP BY 1),
       |es AS (SELECT c.component, count(*)::BIGINT AS n_edges,
       |         min(pw.jaccard) AS min_sim,
       |         CAST(sum(CAST(floor(pw.jaccard * 1000000.0 + 0.5) AS BIGINT))
       |           AS BIGINT) AS sm
       |       FROM pw JOIN comp c ON pw.id_a = c.id GROUP BY 1)
       |SELECT m.component, m.n_members, es.n_edges, es.min_sim,
       |  CAST(es.sm AS DOUBLE) / (CAST(es.n_edges AS DOUBLE) * 1000000.0)
       |    AS mean_sim,
       |  CAST(2 * es.n_edges AS DOUBLE)
       |    / CAST(m.n_members * (m.n_members - 1) AS DOUBLE) AS density
       |FROM mem m JOIN es USING (component)""".stripMargin

  /** Mirror of the q237 nearest as-of composition: closest action in
    * either direction within the window, backward-preferred ties. */
  def errorNearestAction(toleranceMinutes: Long): String =
    s"""SELECT e.event_id, e.ts, e.user_id,
       |  t.event_id AS near_id, t.event_type AS near_type,
       |  t.ts AS near_ts
       |FROM (SELECT * FROM events WHERE event_type = 'error') e
       |LEFT JOIN (SELECT * FROM events
       |           WHERE event_type IN ('click', 'view')) t
       |  ON e.user_id = t.user_id
       |  AND t.ts >= e.ts - INTERVAL $toleranceMinutes MINUTES
       |  AND t.ts <= e.ts + INTERVAL $toleranceMinutes MINUTES
       |QUALIFY row_number() OVER (PARTITION BY e.event_id
       |  ORDER BY abs(epoch_us(t.ts) - epoch_us(e.ts)) ASC NULLS LAST,
       |    t.ts ASC NULLS LAST, t.event_id DESC NULLS LAST) = 1""".stripMargin

  /** Mirror of Dedup.survivorQualityAudit: the recursive closure's
    * clusters, the q83 score CTE, per-cluster best vs the min-id
    * representative. */
  def survivorQualityAudit(threshold: Double, maxDocFreq: Int,
      wTok: Long, wStop: Long, wDigit: Long, wUpper: Long,
      scoreThreshold: Long, idCol: String): String =
    s"""WITH RECURSIVE ${closureCtes(threshold, maxDocFreq)},
       |ls AS MATERIALIZED (${linearScore(wTok, wStop, wDigit, wUpper,
          scoreThreshold, idCol)}),
       |j AS (SELECT c.component, c.id, ls.score
       |      FROM comp c JOIN ls ON c.id = ls.$idCol),
       |r AS (SELECT component, id, score, row_number() OVER (
       |        PARTITION BY component ORDER BY score DESC, id ASC) AS rn
       |      FROM j),
       |rep AS (SELECT component, score AS rep_score FROM j
       |        WHERE id = component),
       |best AS (SELECT component, id AS best_id, score AS best_score
       |         FROM r WHERE rn = 1)
       |SELECT b.component AS rep_id, rep.rep_score, b.best_id,
       |  b.best_score, b.best_score > rep.rep_score AS suboptimal
       |FROM best b JOIN rep USING (component)""".stripMargin

  /** Mirror of Dedup.spanDictionary with the q62 boilerplate injection:
    * distinct span hashes, df >= minDocs, (df desc, span asc) top-k. */
  def spanDictionary(injectPct: Int, suffix: String, n: Int,
      minDocs: Int, k: Int, idCol: String): String =
    s"""WITH injected AS (
       |  SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' ${sqlLit(suffix)}' ELSE text END AS text
       |  FROM documents),
       |sets AS (SELECT $idCol, ${shingleHashesN(n)} AS hs FROM injected),
       |inv AS (SELECT $idCol, unnest(hs) AS span_hash FROM sets),
       |g AS (SELECT span_hash, count(*)::BIGINT AS doc_freq,
       |        min($idCol)::BIGINT AS example_doc
       |      FROM inv GROUP BY 1 HAVING count(*) >= $minDocs),
       |r AS (SELECT *, row_number() OVER (
       |        ORDER BY doc_freq DESC, span_hash ASC) AS rank FROM g)
       |SELECT span_hash, doc_freq, example_doc, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= $k""".stripMargin

  /** Mirror of SimilaritySearch.knnHubness: the q58 kNN graph CTE,
    * reverse in-degrees with antihub zero-fill, bit-length bands. */
  def knnHubness(k: Int, dim: Int, nPlanes: Int, nTables: Int): String =
    s"""WITH knn AS MATERIALIZED (${knnJoinLsh(k, dim, nPlanes, nTables)}),
       |ind AS (SELECT cand_id AS id, count(*)::BIGINT AS d FROM knn
       |        GROUP BY 1),
       |alln AS (SELECT e.vec_id AS id, COALESCE(ind.d, 0) AS in_degree
       |         FROM embeddings e LEFT JOIN ind ON e.vec_id = ind.id),
       |b AS (SELECT CASE WHEN in_degree = 0 THEN 0
       |               ELSE CAST(length(bin(in_degree)) AS INTEGER) END AS band,
       |        in_degree FROM alln)
       |SELECT band, count(*)::BIGINT AS n_vectors,
       |  CAST(min(in_degree) AS BIGINT) AS min_in_degree,
       |  CAST(max(in_degree) AS BIGINT) AS max_in_degree
       |FROM b GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.sessionConversion: the q23 gap-island
    * sessions carrying a conversion indicator, per-day rollup. */
  def sessionConversion(convertType: String, gapMinutes: Int): String = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts, event_type,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged),
       |s AS (SELECT user_id, sid, min(ts) AS session_start,
       |        max(CASE WHEN event_type = '${sqlLit(convertType)}'
       |              THEN 1 ELSE 0 END) AS conv
       |      FROM sess GROUP BY 1, 2),
       |d AS (SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP)
       |        AS day, conv FROM s)
       |SELECT day, count(*)::BIGINT AS n_sessions,
       |  CAST(sum(conv) AS BIGINT) AS n_converting,
       |  CAST((sum(conv) * 1000) // count(*) AS BIGINT)
       |    AS conversion_per_mille
       |FROM d GROUP BY 1""".stripMargin
  }

  /** Mirror of the q236 composition: the stub codec's frame-count
    * formula per media type — the SQL replay of what the
    * mapPartitions batch codec actually computes. */
  def frameWorkload: String =
    s"""WITH m AS (SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
       |      WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |    1 + length(text) % 30 AS nf
       |  FROM documents)
       |SELECT media_type, count(*)::BIGINT AS n_media,
       |  CAST(sum(nf) AS BIGINT) AS n_frames,
       |  CAST(max(nf) AS BIGINT) AS max_frames,
       |  CAST(sum(nf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_frames
       |FROM m GROUP BY 1""".stripMargin

  /** Mirror of the q232 composition: the q83 score and the q63 battery
    * (no injection) joined per doc, keep rate per exact score value —
    * both CTEs verbatim from the independently-oracled builders. */
  def scoreCalibration(wTok: Long, wStop: Long, wDigit: Long,
      wUpper: Long, threshold: Long, minTokens: Int, maxTokens: Int,
      minMeanTokLen: Double, maxMeanTokLen: Double,
      maxTopTokRatio: Double, minStopwords: Int, idCol: String): String =
    s"""WITH qf AS MATERIALIZED (${qualityFilter(0, "", minTokens, maxTokens,
          minMeanTokLen, maxMeanTokLen, maxTopTokRatio, minStopwords, idCol)}),
       |ls AS MATERIALIZED (${linearScore(wTok, wStop, wDigit, wUpper,
          threshold, idCol)}),
       |j AS (SELECT ls.score, qf.keep FROM ls JOIN qf USING ($idCol))
       |SELECT score, count(*)::BIGINT AS n_docs,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST((sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000) // count(*)
       |    AS BIGINT) AS keep_per_mille
       |FROM j GROUP BY 1""".stripMargin

  /** Mirror of Dedup.signatureSizeSensitivity: the q175 candidate CTEs,
    * per-pair prefix-estimator errors, per-k micro-integer means. */
  def signatureSizeSensitivity(ks: Seq[Int], k: Int, bands: Int,
      idCol: String): String = {
    val r = k / bands
    val sig =
      s"""list_transform(range(0, $k), i ->
         |  list_min(list_transform(hs, h -> ((2*i + 1)*h + $SigB*i + 1) % $P)))""".stripMargin
    val errDefs = ks.map { kp =>
      s"""abs(CAST(len(list_filter(range(1, ${kp + 1}),
         |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / ${kp.toDouble}
         |    - CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / CAST(a.sz + b.sz - len(list_intersect(a.hs, b.hs))
         |        AS DOUBLE)) AS e$kp""".stripMargin
    }.mkString(",\n")
    val perK = ks.map { kp =>
      s"""SELECT CAST($kp AS INTEGER) AS sig_k, count(*)::BIGINT AS n_pairs,
         |  CAST(sum(CAST(floor(e$kp * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_abs_err,
         |  max(e$kp) AS max_abs_err
         |FROM e""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sets AS (SELECT $idCol AS id, $shingleHashes AS hs FROM documents),
       |s2 AS (SELECT id, hs, len(hs) AS sz FROM sets WHERE len(hs) > 0),
       |sigs AS (SELECT id, $sig AS sig FROM s2),
       |bd AS (SELECT unnest(range(0, $bands)) AS band),
       |bk AS (SELECT s.id, bd.band,
       |         array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
       |       FROM sigs s CROSS JOIN bd),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
       |           AND x.id < y.id),
       |e AS MATERIALIZED (SELECT
       |    $errDefs
       |  FROM cand c
       |    JOIN s2 a ON c.id_a = a.id JOIN s2 b ON c.id_b = b.id
       |    JOIN sigs sa ON c.id_a = sa.id JOIN sigs sb ON c.id_b = sb.id)
       |$perK""".stripMargin
  }

  /** Mirror of TextAnalysis.chunk: chunk starts via range(0, n, stride)
    * (= Spark's sequence(0, n-1, stride) for n >= 1), 1-based inclusive
    * list_slice (clamped at the list end like Spark's slice), and the
    * shared rolling hash over the space-joined chunk text. */
  def chunk(chunkTokens: Int, stride: Int, idCol: String): String =
    s"""WITH t AS (SELECT $idCol, $toks AS tk, len($toks) AS n FROM documents),
       |s AS (SELECT $idCol, tk, n, unnest(range(0, n, $stride)) AS chunk_start FROM t)
       |SELECT $idCol,
       |  CAST(chunk_start // $stride AS BIGINT) AS chunk_id,
       |  chunk_start,
       |  least($chunkTokens, n - chunk_start) AS n_chunk_tokens,
       |  ${rh(s"array_to_string(list_slice(tk, chunk_start + 1, chunk_start + $chunkTokens), ' ')")} AS chunk_hash
       |FROM s""".stripMargin

  /** Mirror of TextAnalysis.featureHash: token → dimension via the same
    * mix32(rollingHash) arithmetic, per-(doc, dim) counts, and the
    * order-insensitive mod-p checksum (terms reduced mod p BEFORE the
    * sum — DuckDB traps BIGINT overflow where Spark would wrap). */
  def featureHash(d: Int, idCol: String): String = {
    val pows = Seq.iterate(1L, d)(x => x * 31 % P).mkString("[", ", ", "]")
    s"""WITH tk AS (SELECT $idCol, unnest($toks) AS tok FROM documents),
       |dm AS (SELECT $idCol,
       |         ((${rh("tok")} * $Mix) % ${TextFunctions.TwoPow32}) % $d AS dim FROM tk),
       |c AS (SELECT $idCol, dim, count(*) AS cnt FROM dm GROUP BY 1, 2)
       |SELECT $idCol, count(*) AS nnz, CAST(sum(cnt) AS BIGINT) AS l1,
       |  CAST(sum(((cnt % $P) * ($pows[CAST(dim + 1 AS INT)])) % $P) % $P AS BIGINT) AS fh_checksum
       |FROM c GROUP BY 1""".stripMargin
  }

  /** Mirror of TextAnalysis.rareTokenScore over a corpus with unique
    * tokens injected into a hash-sampled slice (every fixture token is
    * corpus-frequent, so without injection the rare branch would verify
    * 0 == 0 — the q36 lesson). */
  def rareTokenScore(injectPct: Int, rareMaxDf: Int, idCol: String): String =
    s"""WITH injected AS (
       |  SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $injectPct
       |    THEN text || ' xrare' || $idCol::VARCHAR ELSE text END AS text
       |  FROM documents),
       |occ AS (SELECT $idCol, unnest($toks) AS tok FROM injected),
       |dfreq AS (SELECT tok, count(DISTINCT $idCol) AS df FROM occ GROUP BY 1)
       |SELECT o.$idCol, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN f.df <= $rareMaxDf THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_tokens,
       |  CAST(sum(CASE WHEN f.df <= $rareMaxDf THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_ratio
       |FROM occ o JOIN dfreq f USING (tok) GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.keywords: per-doc top-k by the integer
    * (tf desc, df asc, token asc) TF-IDF ordering — no float log, so the
    * rank replays exactly. */
  def keywords(k: Int, idCol: String): String =
    s"""WITH occ AS (SELECT $idCol, unnest($toks) AS token FROM documents),
       |tf AS (SELECT $idCol, token, count(*) AS tf FROM occ GROUP BY 1, 2),
       |dfreq AS (SELECT token, count(DISTINCT $idCol) AS df FROM occ GROUP BY 1)
       |SELECT t.$idCol, t.token, t.tf, f.df,
       |  row_number() OVER (PARTITION BY t.$idCol
       |    ORDER BY t.tf DESC, f.df ASC, t.token ASC) AS rank
       |FROM tf t JOIN dfreq f USING (token)
       |QUALIFY rank <= $k""".stripMargin

  /** Mirror of TextAnalysis.robustScale: per-group quantile_cont (the
    * shared linear-interpolation definition) and the IEEE-exact
    * (v - median) / IQR over those shared doubles. */
  def robustScale(groupCol: String, valueCol: String, idCol: String): String =
    s"""WITH s AS (SELECT $groupCol,
       |    quantile_cont($valueCol, 0.25) AS q1,
       |    quantile_cont($valueCol, 0.5) AS med,
       |    quantile_cont($valueCol, 0.75) AS q3
       |  FROM documents GROUP BY $groupCol)
       |SELECT d.$idCol, d.$groupCol, d.$valueCol,
       |  CASE WHEN s.q3 = s.q1 THEN 0.0
       |       ELSE (d.$valueCol - s.med) / (s.q3 - s.q1) END AS scaled
       |FROM documents d JOIN s USING ($groupCol)""".stripMargin

  /** Mirror of the q71 curated-corpus composition: the q63 rule battery
    * (injectPct = 0 → the CASE never fires and the corpus is untouched),
    * the q62 boilerplate ratio, and the md5 exact-dup representative,
    * intersected on the id. Each ingredient SQL is reused verbatim as a
    * parenthesized CTE subquery, so the composition cannot drift from
    * the independently-oracled parts. */
  def curatedCorpus(minTokens: Int, maxTokens: Int, minMeanTokLen: Double,
      maxMeanTokLen: Double, maxTopTokRatio: Double, minStopwords: Int,
      boilerN: Int, boilerMinDocs: Int, maxBoilerRatio: Double,
      idCol: String): String = {
    val qf = qualityFilter(injectPct = 0, injectSuffix = "unused",
      minTokens, maxTokens, minMeanTokLen, maxMeanTokLen, maxTopTokRatio,
      minStopwords, idCol)
    val bp = boilerplateSpans(injectPct = 0, suffix = "unused",
      boilerN, boilerMinDocs, idCol)
    // Each ingredient is MATERIALIZED: DuckDB's default per-reference
    // inlining re-expands the full window/unnest chains inside each IN
    // probe, which has OOM'd under memory pressure (r05); materializing
    // computes each ingredient once into a small id table.
    s"""WITH qf AS MATERIALIZED ($qf),
       |bp AS MATERIALIZED ($bp),
       |rep AS MATERIALIZED (
       |  SELECT $idCol, row_number() OVER (PARTITION BY md5(text)
       |    ORDER BY $idCol) AS rn FROM documents)
       |SELECT d.* FROM documents d
       |WHERE d.$idCol IN (SELECT $idCol FROM qf WHERE keep)
       |  AND d.$idCol IN (SELECT $idCol FROM bp WHERE boiler_ratio < $maxBoilerRatio)
       |  AND d.$idCol IN (SELECT $idCol FROM rep WHERE rn = 1)""".stripMargin
  }

  /** Mirror of EventAnalytics.activitySpikes: hourly counts, per-user
    * quantile_cont median (shared interpolation), integer-vs-double
    * spike compare. */
  def activitySpikes(factor: Int): String =
    s"""WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hour,
       |             count(*) AS n_events FROM events GROUP BY 1, 2),
       |m AS (SELECT user_id, quantile_cont(n_events, 0.5) AS median_hourly
       |      FROM h GROUP BY 1)
       |SELECT h.user_id, h.hour, h.n_events, m.median_hourly,
       |  h.n_events >= $factor * m.median_hourly AS spike
       |FROM h JOIN m USING (user_id)""".stripMargin

  /** Mirror of EventAnalytics.eventTransitions: per-user lead over the
    * total (ts, event_id) order, counts over the (type, type) key space,
    * deterministic top-k cut. */
  def eventTransitions(k: Int): String =
    s"""WITH t AS (SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS next_type
       |  FROM events)
       |SELECT event_type AS from_type, next_type AS to_type,
       |  count(*) AS n_transitions
       |FROM t WHERE next_type IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY n_transitions DESC, from_type ASC, to_type ASC LIMIT $k""".stripMargin

  /** Mirror of the q73 media→similarity bridge: the stub encoder's
    * feature vector replayed relationally (checksum = the shared rolling
    * hash of the payload bytes == chars on the ASCII corpus; components
    * computed as DOUBLE divisions rounded to FLOAT — the exact two-step
    * the Scala stub performs), then the standard exact cosine top-k. */
  def mediaEmbedTopK(queryId: Long, k: Int, dim: Int): String = {
    val featList = s"""list_transform(range(0, $dim),
       |      j -> ((((${rh("text")} * (2*j+1) + j) % $P) % 1000) / 1000.0)::FLOAT)""".stripMargin
    val dotQ = dotTerms("f.features", "q.qv", dim)
    val n2f = dotTerms("f.features", "f.features", dim)
    val n2q = dotTerms("q.qv", "q.qv", dim)
    s"""WITH f AS (SELECT doc_id AS media_id, $featList AS features FROM documents),
       |q AS (SELECT features AS qv FROM f WHERE media_id = $queryId)
       |SELECT f.media_id, ($dotQ) / (sqrt($n2f) * sqrt($n2q)) AS score
       |FROM f, q
       |ORDER BY score DESC, f.media_id ASC LIMIT $k""".stripMargin
  }

  /** Mirror of Sampling.tokenBudgetSample: power-of-two value tiers,
    * best-first cumulative token sums over the (≤ 63-row) tier table,
    * boundary tier rate-sampled by the shared id bucket. The engine
    * computes the boundary driver-side and burns it into the plan; the
    * oracle recomputes the identical integer arithmetic relationally. */
  def tokenBudgetSample(budgetTokens: Long, valueCol: String,
      idCol: String): String =
    s"""WITH tok AS MATERIALIZED (SELECT $idCol, length(bin($valueCol)) AS tier,
       |               len($toks)::BIGINT AS nt FROM documents),
       |ts AS MATERIALIZED (SELECT tier, CAST(sum(nt) AS BIGINT) AS s FROM tok GROUP BY tier),
       |c AS MATERIALIZED (SELECT tier, s,
       |        CAST(SUM(s) OVER (ORDER BY tier DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM ts),
       |b AS MATERIALIZED (SELECT tier, (100 * ($budgetTokens - (cum - s))) // s AS rate
       |      FROM c WHERE cum > $budgetTokens ORDER BY tier DESC LIMIT 1)
       |SELECT d.* FROM documents d
       |WHERE (SELECT count(*) FROM b) = 0
       |   OR length(bin(d.$valueCol)) > (SELECT tier FROM b)
       |   OR (length(bin(d.$valueCol)) = (SELECT tier FROM b)
       |       AND ${sampleBucket(s"d.$idCol")} < (SELECT rate FROM b))""".stripMargin

  /** The raw HLL register table over the WHOLE corpus — the oracle for
    * the merge query (sketch the two halves, merge by element-wise max):
    * mergeability means the merged halves must equal this exactly. */
  def hllRegisters(p: Int, keyCol: String = "lang",
      valueCol: String = "text"): String = {
    val m = 1 << p
    val maxRank = 60 - p + 1
    s"""WITH h AS (SELECT $keyCol,
       |    CAST(concat('0x', substr(md5($valueCol), 1, 15)) AS BIGINT) AS h FROM documents),
       |b AS (SELECT $keyCol, h & ${m - 1} AS bucket,
       |        CASE WHEN (h >> $p) = 0 THEN $maxRank
       |             ELSE $maxRank - length(bin(h >> $p)) END AS r FROM h)
       |SELECT $keyCol, bucket, MAX(r) AS register FROM b GROUP BY 1, 2""".stripMargin
  }

  /** Mirror of SimilaritySearch.semanticDedup: the q30 assign CTE
    * (nearest seed centroid by cosine, cid tiebreak), within-cell
    * smaller-id near-dup pairs at >= threshold, and the anti-joined
    * keep set. */
  def semanticDedup(threshold: Double, dim: Int, nlist: Int): String = {
    val n2c = dotTerms("c.cv", "c.cv", dim)
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val dotEC = dotTerms("e.embedding", "c.cv", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    // also q268's oracle: semanticDedupAuto's sub-split never fires at
    // correctness scale (occupancy n/nlist < targetCell), so the auto
    // rule degenerates to exactly this SQL
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $nlist),
       |assign AS (SELECT vec_id, v, n2, cid FROM (
       |    SELECT e.vec_id, e.embedding AS v, ($n2e) AS n2, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ($dotEC) / (sqrt($n2e) * sqrt($n2c)) DESC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
       |drops AS (SELECT DISTINCT y.vec_id AS id
       |          FROM assign x JOIN assign y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |          WHERE ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) >= $threshold)
       |SELECT a.vec_id, a.cid AS cell FROM assign a
       |WHERE a.vec_id NOT IN (SELECT id FROM drops)""".stripMargin
  }

  def embedNearDupLsh(threshold: Double, dim: Int,
      nPlanes: Int, nTables: Int): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    val mask = (1L << nPlanes) - 1
    val anyTable = (0 until nTables).map { t =>
      s"((x.bits >> ${t * nPlanes}) & $mask) = ((y.bits >> ${t * nPlanes}) & $mask)"
    }.mkString(" OR ")
    s"""WITH n AS (SELECT vec_id AS id, embedding AS v, ($n2) AS n2,
       |             ${srpBits("embedding", dim, nPlanes * nTables)} AS bits
       |           FROM embeddings)
       |SELECT x.id AS id_a, y.id AS id_b, ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
       |FROM n x JOIN n y ON x.id < y.id AND ($anyTable)
       |WHERE ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) >= $threshold""".stripMargin
  }

  /** Mirror of SimilaritySearch.crossCorpusNearDupLsh over the
    * hash-split embedding sides: same SRP bits, any-table bucket match,
    * cross-side orientation instead of id ordering. */
  def crossCorpusEmbedLsh(newPct: Int, threshold: Double, dim: Int,
      nPlanes: Int, nTables: Int, idCol: String): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotXY = dotTerms("x.v", "y.v", dim)
    val mask = (1L << nPlanes) - 1
    val anyTable = (0 until nTables).map { t =>
      s"((x.bits >> ${t * nPlanes}) & $mask) = ((y.bits >> ${t * nPlanes}) & $mask)"
    }.mkString(" OR ")
    s"""WITH n AS (SELECT $idCol AS id, embedding AS v, ($n2) AS n2,
       |             ${srpBits("embedding", dim, nPlanes * nTables)} AS bits,
       |             ${sampleBucket(idCol)} AS bk
       |           FROM embeddings)
       |SELECT x.id AS id_new, y.id AS id_old,
       |  ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
       |FROM n x JOIN n y ON x.bk < $newPct AND y.bk >= $newPct AND ($anyTable)
       |WHERE ($dotXY) / (sqrt(x.n2) * sqrt(y.n2)) >= $threshold""".stripMargin
  }

  /** Adjacent-token bigram CTEs — DuckDB's lockstep multi-unnest over two
    * 1-based slices mirrors TextAnalysis.bigramPairs' index transform. */
  private val bigramCtes: String =
    s"""tkb AS (SELECT doc_id, $toks AS t FROM documents),
       |bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS ctx, unnest(t[2:len(t)]) AS nxt
       |       FROM tkb WHERE len(t) >= 2)""".stripMargin

  /** Mirror of TextAnalysis.bigramLm: (ctx, nxt) counts, context totals
    * and the top-k cut from one window pair, integer-exact throughout. */
  def bigramLm(k: Int, minContextCount: Int): String =
    s"""WITH $bigramCtes,
       |pc AS (SELECT ctx, nxt, count(*) AS pair_n FROM bg GROUP BY 1, 2),
       |wn AS (SELECT ctx, nxt, pair_n,
       |         CAST(sum(pair_n) OVER (PARTITION BY ctx) AS BIGINT) AS ctx_n,
       |         row_number() OVER (PARTITION BY ctx
       |           ORDER BY pair_n DESC, nxt ASC) AS rnk
       |       FROM pc)
       |SELECT ctx, nxt, pair_n, ctx_n, CAST(rnk AS INT) AS rnk FROM wn
       |WHERE rnk <= $k AND ctx_n >= $minContextCount""".stripMargin

  /** Mirror of TextAnalysis.bigramNovelty: distinct doc-bigrams feed the
    * document-frequency table and join back; one exact division. */
  def bigramNovelty(minDocs: Int, idCol: String): String =
    s"""WITH $bigramCtes,
       |dbg AS MATERIALIZED (SELECT DISTINCT doc_id AS $idCol, ctx, nxt FROM bg),
       |dfreq AS (SELECT ctx, nxt, count(*) AS df FROM dbg GROUP BY 1, 2)
       |SELECT d.$idCol, count(*) AS n_bigrams,
       |  CAST(sum(CASE WHEN f.df >= $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  CAST(sum(CASE WHEN f.df >= $minDocs THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS shared_rate
       |FROM dbg d JOIN dfreq f USING (ctx, nxt) GROUP BY 1""".stripMargin

  /** Mirror of SimilaritySearch.embedOutliers: integer micro-sum centroid
    * (order-insensitive), one exact division per component, and the
    * shared left-assoc cosine chain. */
  def embedOutliers(threshold: Double, dim: Int): String = {
    val sums = (1 to dim).map(d =>
      s"sum(CAST(floor(e.embedding[$d]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS s$d")
      .mkString(", ")
    def cd(d: Int) = s"(c.s$d::DOUBLE / (c.n::DOUBLE * 1000000.0))"
    val dotC = (1 to dim).map(d => s"e.embedding[$d]::DOUBLE * ${cd(d)}").mkString(" + ")
    val n2x = dotTerms("e.embedding", "e.embedding", dim)
    val n2c = (1 to dim).map(d => s"${cd(d)} * ${cd(d)}").mkString(" + ")
    val score = s"($dotC) / (sqrt($n2x) * sqrt($n2c))"
    s"""WITH j AS MATERIALIZED (SELECT e.vec_id, e.embedding, d.lang
       |           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |c AS (SELECT lang, count(*) AS n, $sums FROM j e GROUP BY lang)
       |SELECT e.vec_id, e.lang, $score AS cos_centroid,
       |  $score < $threshold AS is_outlier
       |FROM j e JOIN c ON e.lang = c.lang""".stripMargin
  }

  /** Mirror of SimilaritySearch.centroidDrift over the hash-split halves
    * of embeddings: per-(group, half) micro-scaled integer sums, identical
    * centroid divisions and cosine chain. */
  def centroidDrift(newPct: Int, threshold: Double, dim: Int,
      idCol: String): String = {
    val sums = (1 to dim).map(i =>
      s"sum(CAST(floor(embedding[$i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS s$i")
      .mkString(", ")
    def cd(p: String, i: Int) = s"($p.s$i::DOUBLE / ($p.n::DOUBLE * 1000000.0))"
    val dot = (1 to dim).map(i => s"${cd("a", i)} * ${cd("b", i)}").mkString(" + ")
    val n2a = (1 to dim).map(i => s"${cd("a", i)} * ${cd("a", i)}").mkString(" + ")
    val n2b = (1 to dim).map(i => s"${cd("b", i)} * ${cd("b", i)}").mkString(" + ")
    val score = s"($dot) / (sqrt($n2a) * sqrt($n2b))"
    s"""WITH a AS (SELECT label, count(*)::BIGINT AS n, $sums FROM embeddings
       |           WHERE ${sampleBucket(idCol)} < $newPct GROUP BY label),
       |b AS (SELECT label, count(*)::BIGINT AS n, $sums FROM embeddings
       |      WHERE ${sampleBucket(idCol)} >= $newPct GROUP BY label)
       |SELECT a.label, a.n AS n_old, b.n AS n_new,
       |  $score AS centroid_cosine, $score < $threshold AS drifted
       |FROM a JOIN b ON a.label = b.label""".stripMargin
  }

  /** Mirror of TextAnalysis.linearScore: integer features x literal
    * integer weights, integer threshold — exact end to end. */
  def linearScore(wTok: Long, wStop: Long, wDigit: Long, wUpper: Long,
      threshold: Long, idCol: String): String = {
    val stopList = TextFunctions.LangMarkers.head._2
      .map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH f AS (SELECT $idCol,
       |  len($toks) AS n_tok,
       |  len(list_filter($toks, x -> list_contains($stopList, x))) AS n_stop,
       |  len(list_filter($toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_digit,
       |  len(list_filter($toks, x -> regexp_matches(x, '^[A-Z]'))) AS n_upper
       |  FROM documents)
       |SELECT $idCol, n_tok, n_stop, n_digit, n_upper,
       |  $wTok*n_tok + $wStop*n_stop + ($wDigit)*n_digit + ($wUpper)*n_upper AS score,
       |  ($wTok*n_tok + $wStop*n_stop + ($wDigit)*n_digit + ($wUpper)*n_upper)
       |    >= $threshold AS keep
       |FROM f""".stripMargin
  }

  /** Mirror of Sampling.capPerGroup composed with the q83 linear score
    * (q160): per-source rank by (score DESC, id ASC), keep rank <= n.
    * The score CTE is the [[linearScore]] SQL verbatim so the
    * composition cannot drift from the independently-oracled part. */
  def domainCap(n: Int, wTok: Long, wStop: Long, wDigit: Long,
      wUpper: Long, threshold: Long, idCol: String): String = {
    val ls = linearScore(wTok, wStop, wDigit, wUpper, threshold, idCol)
    s"""WITH ls AS MATERIALIZED ($ls),
       |j AS (SELECT d.$idCol, d.source, ls.score
       |      FROM documents d JOIN ls USING ($idCol))
       |SELECT $idCol, source, score,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY score DESC, $idCol ASC) AS rank
       |FROM j QUALIFY rank <= $n""".stripMargin
  }

  /** Mirror of Dedup.preferencePairs (q161): components from the shared
    * recursive-reachability CTE ([[dedupComponents]] — q28's oracle),
    * the q83 score, and per-component (score DESC, id ASC) argmax /
    * (score ASC, id ASC) argmin via rank windows; equal-extreme
    * components filtered exactly like the engine. */
  def preferencePairs(threshold: Double, maxDocFreq: Int, wTok: Long,
      wStop: Long, wDigit: Long, wUpper: Long, scoreThreshold: Long,
      idCol: String): String = {
    val comp = dedupComponents(threshold, maxDocFreq)
    val ls = linearScore(wTok, wStop, wDigit, wUpper, scoreThreshold, idCol)
    s"""WITH comp AS MATERIALIZED ($comp),
       |ls AS MATERIALIZED ($ls),
       |m AS (SELECT c.component, c.$idCol AS id, ls.score
       |      FROM comp c JOIN ls USING ($idCol)),
       |r AS (SELECT component, id, score,
       |        row_number() OVER (PARTITION BY component
       |          ORDER BY score DESC, id ASC) AS rb,
       |        row_number() OVER (PARTITION BY component
       |          ORDER BY score ASC, id ASC) AS rw
       |      FROM m),
       |best AS (SELECT component, id AS chosen_id, score AS chosen_score
       |         FROM r WHERE rb = 1),
       |worst AS (SELECT component, id AS rejected_id, score AS rejected_score
       |          FROM r WHERE rw = 1)
       |SELECT b.component, b.chosen_id, w.rejected_id,
       |  b.chosen_score, w.rejected_score,
       |  b.chosen_score - w.rejected_score AS gap
       |FROM best b JOIN worst w USING (component)
       |WHERE b.chosen_score > w.rejected_score""".stripMargin
  }

  /** Mirror of TextAnalysis.lmPredictability (q162): per-position
    * bigrams, (ctx, nxt) counts with window context totals, the exact
    * integer cross-multiplied predictability test, one division. */
  def lmPredictability(branch: Int, threshold: Double,
      idCol: String): String =
    s"""WITH $bigramCtes,
       |cnt AS (SELECT ctx, nxt, count(*) AS pair_n FROM bg GROUP BY 1, 2),
       |lm AS (SELECT ctx, nxt, pair_n,
       |         sum(pair_n) OVER (PARTITION BY ctx) AS ctx_n FROM cnt)
       |SELECT b.doc_id AS $idCol, count(*) AS n_bigrams,
       |  CAST(sum(CASE WHEN l.pair_n * $branch >= l.ctx_n THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_predictable,
       |  CAST(sum(CASE WHEN l.pair_n * $branch >= l.ctx_n THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS predictable_rate,
       |  (CAST(sum(CASE WHEN l.pair_n * $branch >= l.ctx_n THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE)) >= $threshold AS template_like
       |FROM bg b JOIN lm l USING (ctx, nxt) GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.tokenizerFertility (q163): exact integer
    * sums per (lang, source), two final divisions. */
  def tokenizerFertility(groupCol: String, sourceCol: String): String =
    s"""SELECT $groupCol, $sourceCol, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  CAST(sum(len($toks)) AS BIGINT) AS sum_words,
       |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))
       |    AS BIGINT) AS sum_bpe,
       |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))
       |    AS DOUBLE) / CAST(NULLIF(sum(len($toks)), 0) AS DOUBLE) AS bpe_per_word,
       |  CAST(sum(length(text)) AS DOUBLE) /
       |    CAST(NULLIF(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))), 0)
       |      AS DOUBLE) AS chars_per_bpe
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** Mirror of TextAnalysis.spanCorruptionPlan (q164): the exact
    * floor-division span budget, range-exploded span indices, and the
    * shared Knuth-mix start draw over the valid range. */
  def spanCorruptionPlan(spanLen: Int, maskPct: Int, idCol: String): String =
    s"""WITH tk AS (SELECT $idCol, len($toks) AS n_tokens FROM documents),
       |p AS (SELECT $idCol, n_tokens,
       |        ((n_tokens * $maskPct) // 100) // $spanLen AS k
       |      FROM tk WHERE n_tokens >= $spanLen),
       |s AS (SELECT $idCol, n_tokens, unnest(range(0, k)) AS span_idx
       |      FROM p WHERE k >= 1)
       |SELECT $idCol, span_idx,
       |  ((((($idCol % ${graft.operators.Sampling.IdFold}) * 31 + span_idx)
       |      % ${graft.operators.Sampling.IdFold}) * $Mix)
       |    % ${TextFunctions.TwoPow32}) % (n_tokens - $spanLen + 1) + 1 AS span_start,
       |  CAST($spanLen AS BIGINT) AS span_len, n_tokens
       |FROM s""".stripMargin

  /** Mirror of EventAnalytics.timeSplitAudit (q165): conditional counts
    * each side of the cutoff, straddle = both positive. */
  def timeSplitAudit(cutoff: String): String =
    s"""WITH a AS (SELECT user_id,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '$cutoff' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_train,
       |    CAST(sum(CASE WHEN ts >= TIMESTAMP '$cutoff' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_eval
       |  FROM events GROUP BY 1)
       |SELECT user_id, n_train, n_eval,
       |  (n_train > 0 AND n_eval > 0) AS straddles FROM a""".stripMargin

  /** Mirror of Profiler.datasetCard (q166): (lang, md5) multiplicity →
    * per-lang dup counts; direct per-lang aggregates; one scalar total. */
  def datasetCard(groupCol: String, sourceCol: String,
      table: String = "documents", extraCtes: String = ""): String =
    s"""WITH ${extraCtes}pc AS (SELECT $groupCol, md5(text) AS h, count(*) AS c
       |            FROM $table GROUP BY 1, 2),
       |dup AS (SELECT $groupCol,
       |          CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
       |            AS n_exact_dup_docs
       |        FROM pc GROUP BY 1),
       |pl AS (SELECT $groupCol, count(*) AS n_docs,
       |         count(DISTINCT $sourceCol) AS n_sources,
       |         CAST(sum(len($toks)) AS BIGINT) AS sum_tokens
       |       FROM $table GROUP BY 1),
       |t AS (SELECT count(*) AS total FROM $table)
       |SELECT pl.$groupCol, pl.n_docs, pl.n_sources, pl.sum_tokens,
       |  dup.n_exact_dup_docs,
       |  CAST(pl.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE) AS corpus_share
       |FROM pl JOIN dup USING ($groupCol), t""".stripMargin

  /** Mirror of the q223 composition: [[datasetCard]] over the q51
    * dedup'd corpus (the cleaned-release card), corpus CTE reused
    * verbatim so the composition cannot drift from its parts. */
  def dedupDatasetCard(threshold: Double, maxDocFreq: Int,
      groupCol: String, sourceCol: String): String =
    datasetCard(groupCol, sourceCol, table = "corpus",
      extraCtes = s"corpus AS MATERIALIZED (${dedupCorpus(threshold, maxDocFreq)}),\n")

  /** Mirror of SimilaritySearch.neighborhoodPurity: the q58 kNN-graph
    * SQL as a CTE, two label joins, exact per-mille purity. */
  def neighborhoodPurity(k: Int, dim: Int, nPlanes: Int,
      nTables: Int): String =
    s"""WITH knn AS MATERIALIZED (${knnJoinLsh(k, dim, nPlanes, nTables)}),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |j AS (SELECT kk.query_id, lq.label AS qlabel,
       |        (lc.label = lq.label) AS same
       |      FROM knn kk JOIN lab lq ON kk.query_id = lq.vec_id
       |      JOIN lab lc ON kk.cand_id = lc.vec_id)
       |SELECT query_id, qlabel AS label, count(*)::BIGINT AS n_neighbors,
       |  CAST(sum(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       |  CAST((sum(CASE WHEN same THEN 1 ELSE 0 END) * 1000) // count(*)
       |    AS BIGINT) AS purity_per_mille
       |FROM j GROUP BY 1, 2""".stripMargin

  /** Mirror of SimilaritySearch.ivfCellBalance: the q30 seed-centroid
    * assignment CTE reduced to per-cell counts and shares. */
  def ivfCellBalance(dim: Int, nlist: Int): String = {
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val n2c = dotTerms("c.cv", "c.cv", dim)
    val dotEC = dotTerms("e.embedding", "c.cv", dim)
    s"""WITH cent AS (SELECT vec_id AS ccid, embedding AS cv
       |              FROM embeddings WHERE vec_id < $nlist),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.ccid AS cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ($dotEC) / (sqrt($n2e) * sqrt($n2c)) DESC,
       |          c.ccid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
       |g AS (SELECT cid, count(*)::BIGINT AS n_vectors FROM assign
       |      GROUP BY 1)
       |SELECT cid, n_vectors,
       |  CAST((n_vectors * 1000) // sum(n_vectors) OVER () AS BIGINT)
       |    AS share_per_mille
       |FROM g""".stripMargin
  }

  /** Mirror of TextAnalysis.zipfCheckpoints: token counts, total-order
    * rank, literal checkpoint filter. */
  def zipfCheckpoints(ranks: Seq[Int]): String =
    s"""WITH c AS (SELECT tok AS token, count(*)::BIGINT AS freq
       |           FROM (SELECT unnest($toks) AS tok FROM documents)
       |           GROUP BY 1),
       |r AS (SELECT token, freq,
       |        row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
       |      FROM c)
       |SELECT CAST(rank AS BIGINT) AS rank, token, freq,
       |  CAST(rank * freq AS BIGINT) AS rank_times_freq
       |FROM r WHERE rank IN (${ranks.mkString(", ")})""".stripMargin

  /** Mirror of TextAnalysis.qualityDrift (q167): the q63 battery CTE,
    * one pass of 2×5 conditional counts, 5-row long form (dqReport
    * style), exact-integer rates and one IEEE subtraction. */
  def qualityDrift(newPct: Int, minTokens: Int, maxTokens: Int,
      minMeanTokLen: Double, maxMeanTokLen: Double, maxTopTokRatio: Double,
      minStopwords: Int, idCol: String): String = {
    val rules = Seq("ok_n_tokens", "ok_tok_len", "ok_repetition",
      "ok_stopwords", "ok_blacklist")
    val qf = qualityFilter(injectPct = 0, injectSuffix = "unused",
      minTokens, maxTokens, minMeanTokLen, maxMeanTokLen, maxTopTokRatio,
      minStopwords, idCol)
    val sums = rules.map { r =>
      s"""CAST(sum(CASE WHEN NOT nw AND $r THEN 1 ELSE 0 END) AS BIGINT) AS po_$r,
         |    CAST(sum(CASE WHEN nw AND $r THEN 1 ELSE 0 END) AS BIGINT) AS pn_$r"""
        .stripMargin
    }.mkString(",\n    ")
    val branches = rules.map { r =>
      s"""SELECT '$r' AS rule, no AS n_old, nn AS n_new,
         |  CAST(po_$r AS DOUBLE) / CAST(no AS DOUBLE) AS pass_rate_old,
         |  CAST(pn_$r AS DOUBLE) / CAST(nn AS DOUBLE) AS pass_rate_new,
         |  (CAST(pn_$r AS DOUBLE) / CAST(nn AS DOUBLE)) -
         |    (CAST(po_$r AS DOUBLE) / CAST(no AS DOUBLE)) AS drift FROM s"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qf AS MATERIALIZED ($qf),
       |tagged AS (SELECT qf.*, ${sampleBucket(idCol)} < $newPct AS nw FROM qf),
       |s AS (SELECT
       |    $sums,
       |    CAST(sum(CASE WHEN NOT nw THEN 1 ELSE 0 END) AS BIGINT) AS no,
       |    CAST(sum(CASE WHEN nw THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM tagged)
       |$branches""".stripMargin
  }

  /** Mirror of Dedup.splitContamination (q168): the q14 pair CTE, the
    * q32 hash split, canonicalized label pairs, bounded matrix. */
  def splitContamination(threshold: Double, maxDocFreq: Int, testPct: Int,
      idCol: String): String =
    s"""WITH pairs AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |sp AS (SELECT $idCol, CASE WHEN ${sampleBucket(idCol)} < $testPct
       |         THEN 'test' ELSE 'train' END AS split FROM documents),
       |lab AS (SELECT least(a.split, b.split) AS split_a,
       |          greatest(a.split, b.split) AS split_b
       |        FROM pairs p JOIN sp a ON p.id_a = a.$idCol
       |                     JOIN sp b ON p.id_b = b.$idCol),
       |t AS (SELECT count(*) AS tt FROM lab)
       |SELECT split_a, split_b, count(*)::BIGINT AS n_pairs,
       |  split_a <> split_b AS is_leak,
       |  CAST(count(*) AS DOUBLE) / CAST(t.tt AS DOUBLE) AS pair_share
       |FROM lab, t GROUP BY 1, 2, t.tt""".stripMargin

  /** Mirror of SimilaritySearch.normAudit (q169): the shared left-assoc
    * norm chain, order-insensitive min/max, micro-integer mean. */
  def normAudit(groupCol: String, dim: Int): String = {
    val n2 = dotTerms("e.embedding", "e.embedding", dim)
    s"""WITH n AS (SELECT d.$groupCol AS g, sqrt($n2) AS nn
       |           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
       |SELECT g AS $groupCol, count(*) AS n_vectors,
       |  min(nn) AS min_norm, max(nn) AS max_norm,
       |  CAST(sum(CAST(floor(nn * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_norm
       |FROM n GROUP BY 1""".stripMargin
  }

  /** Mirror of Sampling.epochShuffle: the epoch-salted rolling hash
    * buckets the corpus; position ranks by (hash, id) within the bucket. */
  def epochShuffle(epoch: Int, nBuckets: Int, idCol: String): String =
    s"""WITH h AS (SELECT $idCol,
       |  ${rh(s"$idCol::VARCHAR || ':$epoch'")} AS hh FROM documents)
       |SELECT $idCol, CAST(hh % $nBuckets AS INT) AS bucket,
       |  CAST(row_number() OVER (PARTITION BY hh % $nBuckets
       |    ORDER BY hh ASC, $idCol ASC) AS INT) AS pos
       |FROM h""".stripMargin

  /** Mirror of the q85 composition: the q28 component graph (recursive
    * CTE) joined back to documents, keeping each component's longest
    * member (n_chars desc, id asc — a total order). */
  def clusterBest(threshold: Double, maxDocFreq: Int): String =
    s"""SELECT component, doc_id AS best_doc_id, n_chars FROM (
       |  SELECT f.component, f.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY f.component
       |      ORDER BY d.n_chars DESC, f.doc_id ASC) AS rn
       |  FROM (${dedupComponents(threshold, maxDocFreq)}) f
       |  JOIN documents d ON f.doc_id = d.doc_id)
       |WHERE rn = 1""".stripMargin

  /** Mirror of Sampling.mixToTarget: integer-exact achievable scale
    * (`min(100·n/pct)`) and per-stratum rates, replayed relationally. */
  def mixToTarget(targets: Seq[(String, Int)], strataCol: String,
      idCol: String): String = {
    val vals = targets.map { case (s, p) => s"('${sqlLit(s)}', $p)" }.mkString(", ")
    s"""WITH cnt AS (SELECT $strataCol AS s, count(*) AS n FROM documents GROUP BY 1),
       |tgt AS (SELECT * FROM (VALUES $vals) AS t(s, pct)),
       |tm AS (SELECT min(n * 100 // pct) AS tmax FROM cnt JOIN tgt USING (s)),
       |rates AS (SELECT c.s, (g.pct * tm.tmax) // c.n AS rate
       |          FROM cnt c JOIN tgt g USING (s) CROSS JOIN tm)
       |SELECT d.* FROM documents d JOIN rates r ON d.$strataCol = r.s
       |WHERE ${sampleBucket("d." + idCol)} < r.rate""".stripMargin
  }

  /** Mirror of the q88 train-then-infer pair: per-lang marker suffixes
    * injected (doubled — the fixture-repair), per-language top-m char
    * trigram profiles (count desc, trigram asc), then per-doc
    * profile-overlap argmax (score desc, lang asc). Character-semantics
    * substr in both engines. */
  def langProfile(m: Int, idCol: String,
      marks: Seq[(String, String)]): String = {
    val cases = marks.map { case (l, mk) =>
      s"WHEN lang = '${sqlLit(l)}' THEN text || ' ${sqlLit(mk)} ${sqlLit(mk)}'"
    }.mkString(" ")
    s"""WITH dm AS MATERIALIZED (SELECT $idCol, lang,
       |             CASE $cases ELSE text END AS text FROM documents),
       |tri AS (SELECT lang, unnest(list_transform(range(1, length(text) - 1),
       |               i -> substr(text, i, 3))) AS tri
       |             FROM dm WHERE length(text) >= 3),
       |cnt AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY 1, 2),
       |prof AS (SELECT lang, tri FROM (
       |           SELECT lang, tri, row_number() OVER (PARTITION BY lang
       |             ORDER BY n DESC, tri ASC) AS r FROM cnt) WHERE r <= $m),
       |dtri AS (SELECT DISTINCT $idCol, tri FROM (
       |           SELECT $idCol, unnest(list_transform(range(1, length(text) - 1),
       |             i -> substr(text, i, 3))) AS tri
       |           FROM dm WHERE length(text) >= 3)),
       |sc AS (SELECT d.$idCol, p.lang, count(*) AS score
       |       FROM dtri d JOIN prof p USING (tri) GROUP BY 1, 2)
       |SELECT $idCol, lang AS pred_lang, score FROM (
       |  SELECT $idCol, lang, score, row_number() OVER (PARTITION BY $idCol
       |    ORDER BY score DESC, lang ASC) AS rn FROM sc)
       |WHERE rn = 1""".stripMargin
  }

  /** Mirror of Dedup.duplicateNgramCoverage (q195): multiset shingle
    * occurrences, per-(lang, shingle) occ + doc-frequency, conditional
    * per-lang fold. */
  def duplicateNgramCoverage(n: Int, minDf: Int, groupCol: String,
      idCol: String): String =
    s"""WITH occ AS (SELECT $groupCol AS g, $idCol AS d,
       |    unnest(${shingleHashesAllN(n)}) AS h FROM documents),
       |ps AS (SELECT g, h, count(*) AS occ, count(DISTINCT d) AS df
       |       FROM occ GROUP BY 1, 2)
       |SELECT g AS $groupCol, CAST(sum(occ) AS BIGINT) AS total_ngrams,
       |  CAST(sum(CASE WHEN df >= $minDf THEN occ ELSE 0 END) AS BIGINT)
       |    AS dup_ngrams,
       |  CAST(sum(CASE WHEN df >= $minDf THEN occ ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(occ) AS DOUBLE) AS dup_coverage
       |FROM ps GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.lifecycleStages (q196): per-entity
    * min/max, integer epoch window arithmetic. */
  def lifecycleStages(reference: String, windowDays: Int): String = {
    val winUs = windowDays * 86400L * 1000000L
    val refUs = s"epoch_us(TIMESTAMP '$reference')"
    s"""WITH a AS (SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
       |             count(*) AS n_events FROM events GROUP BY 1)
       |SELECT user_id, first_seen, last_seen, CAST(n_events AS BIGINT) AS n_events,
       |  CASE WHEN epoch_us(first_seen) >= $refUs - $winUs THEN 'new'
       |       WHEN epoch_us(last_seen) < $refUs - $winUs THEN 'churned'
       |       ELSE 'active' END AS stage
       |FROM a""".stripMargin
  }

  /** Mirror of TextAnalysis.distinctiveVocab (q197): per-million
    * integer rates, scaled ratio rank key, per-source top-k. */
  def distinctiveVocab(k: Int, minCount: Int, sourceCol: String): String =
    s"""WITH tok AS (SELECT $sourceCol AS g, unnest($toks) AS tok FROM documents),
       |bs AS (SELECT g, tok, count(*) AS n_source FROM tok GROUP BY 1, 2),
       |bc AS (SELECT tok, count(*) AS n_corpus FROM tok GROUP BY 1),
       |ct AS (SELECT count(*) AS t FROM tok),
       |j AS (SELECT bs.g, bs.tok, bs.n_source, bc.n_corpus,
       |        sum(bs.n_source) OVER (PARTITION BY bs.g) AS st, ct.t
       |      FROM bs JOIN bc USING (tok), ct),
       |l AS (SELECT g, tok, n_source, n_corpus,
       |        CAST(((n_source * 1000000) // st) * 1000
       |          // greatest((n_corpus * 1000000) // t, 1) AS BIGINT)
       |          AS lift_millis
       |      FROM j WHERE n_source >= $minCount)
       |SELECT g AS $sourceCol, tok, n_source, n_corpus, lift_millis,
       |  row_number() OVER (PARTITION BY g
       |    ORDER BY lift_millis DESC, tok ASC) AS rank
       |FROM l QUALIFY rank <= $k""".stripMargin

  /** Mirror of Dedup.transitivityAudit (q198) over the q14 pair set:
    * ordered open wedges anti-joined against the closing edge. */
  def transitivityAudit(threshold: Double, maxDocFreq: Int): String =
    s"""WITH pairs AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |canon AS (SELECT DISTINCT least(id_a, id_b) AS a,
       |            greatest(id_a, id_b) AS b FROM pairs),
       |sym AS (SELECT a AS ctr, b AS sp FROM canon
       |        UNION ALL SELECT b, a FROM canon),
       |w AS (SELECT x.ctr AS center, x.sp AS spoke_a, y.sp AS spoke_c
       |      FROM sym x JOIN sym y ON x.ctr = y.ctr AND x.sp < y.sp)
       |SELECT w.* FROM w
       |WHERE NOT EXISTS (SELECT 1 FROM canon c
       |                  WHERE c.a = w.spoke_a AND c.b = w.spoke_c)""".stripMargin

  /** Mirror of SimilaritySearch.quantizationErrorReport (q199): the
    * q59 scale/code chains, per-component abs errors, nano-integer
    * mean. */
  def quantizationErrorReport(dim: Int): String = {
    val absmax = (1 to dim).map(i => s"abs(embedding[$i]::DOUBLE)")
      .mkString("greatest(", ", ", ")")
    val eDefs = (1 to dim).map(i =>
      s"""abs(embedding[$i]::DOUBLE - (CASE WHEN scale = 0 THEN 0
         |    ELSE floor(embedding[$i]::DOUBLE / scale + 0.5) END) * scale) AS e$i"""
        .stripMargin).mkString(",\n    ")
    val maxE = (1 to dim).map(i => s"e$i").mkString("greatest(", ", ", ")")
    val sumNano = (1 to dim)
      .map(i => s"CAST(floor(e$i * 1000000000.0 + 0.5) AS BIGINT)")
      .mkString(" + ")
    s"""WITH s AS (SELECT vec_id, embedding, $absmax / 127.0 AS scale
       |           FROM embeddings),
       |e AS (SELECT vec_id, scale,
       |    $eDefs
       |  FROM s)
       |SELECT vec_id, scale, $maxE AS max_abs_err,
       |  CAST($sumNano AS DOUBLE) / ${dim.toDouble * 1000000000.0} AS mean_abs_err
       |FROM e""".stripMargin
  }

  /** Mirror of TextAnalysis.langConfusionMatrix (q190): the q11 CTE
    * joined to declared labels, bounded cells, per-row shares. */
  def langConfusionMatrix(idCol: String): String =
    s"""WITH li AS MATERIALIZED ($textLangId),
       |cells AS (SELECT d.lang AS declared, li.lang_pred, count(*) AS n_docs
       |          FROM documents d JOIN li USING ($idCol) GROUP BY 1, 2),
       |rt AS (SELECT declared, CAST(sum(n_docs) AS BIGINT) AS t
       |       FROM cells GROUP BY 1)
       |SELECT c.declared, c.lang_pred, CAST(c.n_docs AS BIGINT) AS n_docs,
       |  CAST(c.n_docs AS DOUBLE) / CAST(rt.t AS DOUBLE) AS row_share
       |FROM cells c JOIN rt USING (declared)""".stripMargin

  /** Mirror of Sampling.mixtureSchedule (q191): per-(bucket, stratum)
    * ranks, the stride virtual-time key, per-bucket positions. */
  def mixtureSchedule(weights: Seq[(String, Int)], strataCol: String,
      idCol: String, nBuckets: Int): String = {
    val cases = weights.sortBy(_._1)
      .map { case (k, v) => s"WHEN '${sqlLit(k)}' THEN $v" }.mkString(" ")
    s"""WITH b AS (SELECT $idCol, $strataCol,
       |    CASE $strataCol $cases ELSE 0 END AS w,
       |    ((($idCol % ${graft.operators.Sampling.IdFold}) * $Mix)
       |      % ${TextFunctions.TwoPow32}) % $nBuckets AS bucket
       |  FROM documents),
       |f AS (SELECT * FROM b WHERE w > 0),
       |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, $strataCol
       |          ORDER BY $idCol) AS rn FROM f),
       |v AS (SELECT *, (rn * 100) // w AS vt FROM r)
       |SELECT $idCol, $strataCol, bucket,
       |  row_number() OVER (PARTITION BY bucket
       |    ORDER BY vt, $strataCol, $idCol) AS schedule_pos
       |FROM v""".stripMargin
  }

  /** Mirror of EventAnalytics.interEventGaps (q192): lag gaps in
    * integer seconds, rank-exact lower medians. */
  def interEventGaps: String =
    s"""WITH g AS (SELECT user_id, event_id,
       |    (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
       |       ORDER BY ts, event_id))) // 1000000 AS gap
       |  FROM events),
       |f AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY gap, event_id) AS rn,
       |        count(*) OVER (PARTITION BY user_id) AS n FROM f)
       |SELECT user_id, CAST(max(n) AS BIGINT) AS n_gaps,
       |  min(CASE WHEN rn * 2 = n + n % 2 THEN gap END) AS median_gap_s,
       |  CAST(max(gap) AS BIGINT) AS max_gap_s
       |FROM r GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.sourceRankStability (q193): the q63 battery
    * CTE, per-half pass counts, the exact scaled-rate rank key. */
  def sourceRankStability(newPct: Int, minTokens: Int, maxTokens: Int,
      minMeanTokLen: Double, maxMeanTokLen: Double, maxTopTokRatio: Double,
      minStopwords: Int, idCol: String): String = {
    val qf = qualityFilter(injectPct = 0, injectSuffix = "unused",
      minTokens, maxTokens, minMeanTokLen, maxMeanTokLen, maxTopTokRatio,
      minStopwords, idCol)
    s"""WITH qf AS MATERIALIZED ($qf),
       |j AS (SELECT qf.$idCol, qf.keep, d.source,
       |        ${sampleBucket(s"qf.$idCol")} < $newPct AS nw
       |      FROM qf JOIN documents d USING ($idCol)),
       |per AS (SELECT source, nw,
       |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS pass,
       |          count(*) AS n FROM j GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY nw
       |          ORDER BY (pass * 1000000) // n DESC, source ASC) AS r
       |       FROM per)
       |SELECT a.source, a.r AS rank_old, b.r AS rank_new,
       |  b.r - a.r AS rank_shift, (b.r - a.r) * (b.r - a.r) AS d2
       |FROM rk a JOIN rk b ON a.source = b.source AND NOT a.nw AND b.nw"""
      .stripMargin
  }

  /** Mirror of Dedup.dedupSavingsBySource (q194): (source, md5) group
    * states, keeper = min id, bounded per-source fold. */
  def dedupSavingsBySource(idCol: String): String =
    s"""WITH g AS (SELECT source, md5(text) AS h, count(*) AS n,
       |    CAST(sum(length(text)) AS BIGINT) AS sb,
       |    min(length(text)) AS kb
       |  FROM documents GROUP BY 1, 2)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(sum(sb) AS BIGINT) AS total_bytes,
       |  CAST(sum(n - 1) AS BIGINT) AS dup_docs,
       |  CAST(sum(sb - kb) AS BIGINT) AS dup_bytes,
       |  CAST(sum(sb - kb) AS DOUBLE) / CAST(sum(sb) AS DOUBLE) AS savings_ratio
       |FROM g GROUP BY 1""".stripMargin

  /** Mirror of Sampling.consistentTopKSample (q185): k smallest Knuth
    * hashes under the (hash, id) total order, stable rank. */
  def consistentTopKSample(k: Int, idCol: String): String =
    s"""WITH h AS (SELECT $idCol, lang, source,
       |    (($idCol % ${graft.operators.Sampling.IdFold}) * $Mix)
       |      % ${TextFunctions.TwoPow32} AS hh
       |  FROM documents)
       |SELECT $idCol, lang, source,
       |  row_number() OVER (ORDER BY hh, $idCol) AS sample_rank
       |FROM h ORDER BY hh, $idCol LIMIT $k""".stripMargin

  /** Mirror of Profiler.joinFanoutHistogram (q186): per-key counts,
    * q47's log2 bucket, bounded histogram. */
  def joinFanoutHistogram(keyCol: String, table: String): String =
    s"""WITH m AS (SELECT $keyCol, count(*) AS mult FROM $table GROUP BY 1)
       |SELECT length(bin(mult)) AS bucket, count(*)::BIGINT AS n_keys,
       |  CAST(sum(mult) AS BIGINT) AS n_rows,
       |  CAST(min(mult) AS BIGINT) AS min_multiplicity,
       |  CAST(max(mult) AS BIGINT) AS max_multiplicity
       |FROM m GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.weeklyTrend (q187): Monday-truncated
    * weeks, lag deltas, one exact-integer relative change. */
  def weeklyTrend: String =
    s"""WITH w AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
       |             count(*) AS n FROM events GROUP BY 1)
       |SELECT week_start, CAST(n AS BIGINT) AS n_events,
       |  CAST(n - COALESCE(lag(n) OVER (ORDER BY week_start), 0) AS BIGINT)
       |    AS wow_delta,
       |  CASE WHEN lag(n) OVER (ORDER BY week_start) IS NULL THEN NULL
       |       ELSE CAST(n - lag(n) OVER (ORDER BY week_start) AS DOUBLE)
       |         / CAST(lag(n) OVER (ORDER BY week_start) AS DOUBLE) END AS wow_pct
       |FROM w""".stripMargin

  /** Mirror of EventAnalytics.dailyVolumeAnomalies: bounded daily
    * counts, rank-exact lower median and MAD, k·MAD flag. */
  def dailyVolumeAnomalies(k: Int): String =
    s"""WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |                 count(*)::BIGINT AS n_events FROM events GROUP BY 1),
       |med AS (SELECT n_events AS median_daily FROM (
       |    SELECT n_events, day,
       |      row_number() OVER (ORDER BY n_events ASC, day ASC) AS rn,
       |      count(*) OVER () AS n FROM daily)
       |  WHERE rn = (n + 1) // 2),
       |dev AS (SELECT day, n_events, median_daily,
       |          abs(n_events - median_daily) AS deviation FROM daily, med),
       |mad AS (SELECT deviation AS mad FROM (
       |    SELECT deviation, day,
       |      row_number() OVER (ORDER BY deviation ASC, day ASC) AS rn,
       |      count(*) OVER () AS n FROM dev)
       |  WHERE rn = (n + 1) // 2)
       |SELECT day, n_events, median_daily, mad, deviation,
       |  deviation > $k * mad AS is_anomaly
       |FROM dev, mad""".stripMargin

  /** Mirror of EventAnalytics.typeAudienceOverlap: distinct (type,
    * user) incidence, entity-key self-join, audience Jaccard. */
  def typeAudienceOverlap: String =
    s"""WITH inc AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
       |sz AS (SELECT t, count(*)::BIGINT AS nu FROM inc GROUP BY 1),
       |sh AS (SELECT x.t AS type_a, y.t AS type_b, count(*)::BIGINT AS n_shared
       |       FROM inc x JOIN inc y ON x.u = y.u AND x.t < y.t GROUP BY 1, 2)
       |SELECT type_a, type_b, a.nu AS users_a, b.nu AS users_b, n_shared,
       |  CAST(n_shared AS DOUBLE)
       |    / CAST(a.nu + b.nu - n_shared AS DOUBLE) AS jaccard
       |FROM sh JOIN sz a ON sh.type_a = a.t
       |JOIN sz b ON sh.type_b = b.t""".stripMargin

  /** Mirror of EventAnalytics.activationLag: first-two event times per
    * entity, Monday-aligned cohorts, activated-only lower-median lag. */
  def activationLag: String =
    s"""WITH r AS (SELECT user_id, ts,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY ts, event_id) AS rn FROM events),
       |ft AS (SELECT user_id,
       |         min(CASE WHEN rn = 1 THEN ts END) AS t1,
       |         min(CASE WHEN rn = 2 THEN ts END) AS t2
       |       FROM r WHERE rn <= 2 GROUP BY 1),
       |pu AS (SELECT user_id,
       |         CAST(date_trunc('week', t1) AS TIMESTAMP) AS cohort_week,
       |         (epoch_us(t2) - epoch_us(t1)) // 1000000 AS lag FROM ft),
       |tot AS (SELECT cohort_week, count(*)::BIGINT AS n_users,
       |          count(lag)::BIGINT AS n_activated FROM pu GROUP BY 1),
       |md AS (SELECT cohort_week, lag AS median_lag_s FROM (
       |    SELECT cohort_week, lag, user_id,
       |      row_number() OVER (PARTITION BY cohort_week
       |                         ORDER BY lag ASC, user_id ASC) AS rn,
       |      count(*) OVER (PARTITION BY cohort_week) AS na
       |    FROM pu WHERE lag IS NOT NULL)
       |  WHERE rn = (na + 1) // 2)
       |SELECT t.cohort_week, t.n_users, t.n_activated, md.median_lag_s
       |FROM tot t LEFT JOIN md USING (cohort_week)""".stripMargin

  /** Mirror of EventAnalytics.dauStickiness: distinct (user, day)
    * activity, forward 7-day fan-out, per-active-day DAU/WAU ratio. */
  def dauStickiness: String =
    s"""WITH act AS (SELECT DISTINCT user_id AS u,
       |               CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
       |             FROM events),
       |da AS (SELECT d, count(*)::BIGINT AS dau FROM act GROUP BY 1),
       |win AS (SELECT DISTINCT u, d + i * INTERVAL '1 day' AS wd
       |        FROM act, (SELECT unnest(range(0, 7)) AS i)),
       |wa AS (SELECT wd AS d, count(*)::BIGINT AS wau7 FROM win GROUP BY 1)
       |SELECT da.d AS day, da.dau, wa.wau7,
       |  CAST((da.dau * 1000) // wa.wau7 AS BIGINT) AS stickiness_per_mille
       |FROM da JOIN wa USING (d)""".stripMargin

  /** Mirror of EventAnalytics.propsFieldStats: JSON field extraction
    * and per-type integer stats. */
  def propsFieldStats(jsonPath: String): String =
    s"""SELECT event_type, count(*)::BIGINT AS n_events,
       |  count(v)::BIGINT AS n_with_field,
       |  min(v) AS min_v, max(v) AS max_v,
       |  CAST(sum(v) AS BIGINT) AS sum_v,
       |  count(DISTINCT v)::BIGINT AS n_distinct_v
       |FROM (SELECT event_type,
       |        CAST(json_extract_string(props, '$jsonPath') AS BIGINT) AS v
       |      FROM events)
       |GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.hourlyAutocorrelation: hourly counts,
    * lag join, exact integer moments, the q124 combination chain. */
  def hourlyAutocorrelation(lagHours: Int): String =
    s"""WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
       |             count(*)::BIGINT AS c FROM events GROUP BY 1),
       |p AS (SELECT a.c AS x, b.c AS y FROM h a
       |      JOIN h b ON b.t = a.t + $lagHours),
       |m AS (SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx,
       |        CAST(sum(y) AS BIGINT) AS sy,
       |        CAST(sum(x * x) AS BIGINT) AS sxx,
       |        CAST(sum(y * y) AS BIGINT) AS syy,
       |        CAST(sum(x * y) AS BIGINT) AS sxy FROM p)
       |SELECT $lagHours AS lag_hours, n AS n_pairs,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS autocorr
       |FROM m""".stripMargin

  /** Mirror of EventAnalytics.fanoBurstiness: (entity, hour) counts,
    * per-entity exact moments, the identical double chain. */
  def fanoBurstiness: String =
    s"""WITH hc AS (SELECT user_id, date_trunc('hour', ts) AS h,
       |              count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
       |m AS (SELECT user_id, count(*)::BIGINT AS n_hours,
       |        CAST(sum(c) AS BIGINT) AS s,
       |        CAST(sum(c * c) AS BIGINT) AS ss FROM hc GROUP BY 1)
       |SELECT user_id, n_hours,
       |  CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_hourly,
       |  CAST(n_hours * ss - s * s AS DOUBLE)
       |    / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE))
       |    / (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)) AS fano
       |FROM m""".stripMargin

  /** Mirror of Profiler.topValuesProfile: per-column value counts,
    * (count desc, value asc) rank, top-k cut, long-form union. */
  def topValuesProfile(table: String, cols: Seq[String],
      k: Int): String =
    cols.map { c =>
      s"""SELECT '$c' AS column_name, value, cnt, rank FROM (
         |  SELECT CAST($c AS VARCHAR) AS value, count(*)::BIGINT AS cnt,
         |    row_number() OVER (ORDER BY count(*) DESC,
         |      CAST($c AS VARCHAR) ASC) AS rank
         |  FROM $table GROUP BY 1)
         |WHERE rank <= $k""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of Dedup.estimatorCalibration (q188): the q175 report CTE
    * binned by exact Jaccard, micro-integer mean error. */
  def estimatorCalibration(bins: Int, k: Int, bands: Int,
      idCol: String): String =
    s"""WITH rep AS MATERIALIZED (${minhashEstimatorReport(k, bands, idCol)}),
       |b AS (SELECT least(CAST(floor(jaccard_exact * $bins) AS BIGINT),
       |               ${bins - 1}) AS bin,
       |        CAST(floor(abs_err * 1000000.0 + 0.5) AS BIGINT) AS e,
       |        abs_err
       |      FROM rep)
       |SELECT bin, count(*)::BIGINT AS n_pairs,
       |  CAST(sum(e) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
       |    AS mean_abs_err,
       |  max(abs_err) AS max_abs_err
       |FROM b GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.activityHeatmap (q189): Spark's
    * 1=Sunday dayofweek mirrored as DuckDB's dayofweek+1. */
  def activityHeatmap: String =
    s"""WITH c AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |             CAST(hour(ts) AS BIGINT) AS hour_of_day FROM events),
       |t AS (SELECT count(*) AS tt FROM c)
       |SELECT dow, hour_of_day, count(*)::BIGINT AS n_events,
       |  CAST(count(*) AS DOUBLE) / CAST(t.tt AS DOUBLE) AS share
       |FROM c, t GROUP BY 1, 2, t.tt""".stripMargin

  /** Mirror of EventAnalytics.sessionDurationHistogram (q180): the
    * shared sessionize CTE, integer-second durations, the q47 log2
    * bucket trick. */
  def sessionDurationHistogram(gapMinutes: Int): String =
    s"""WITH sess AS MATERIALIZED (${sessionize(gapMinutes)}),
       |d AS (SELECT (epoch_us(session_end) - epoch_us(session_start)) // 1000000
       |        AS dur, n_events FROM sess)
       |SELECT length(bin(dur)) AS bucket, count(*)::BIGINT AS n_sessions,
       |  min(dur) AS min_dur_s, max(dur) AS max_dur_s,
       |  CAST(sum(n_events) AS BIGINT) AS sum_events
       |FROM d GROUP BY 1""".stripMargin

  /** Mirror of Profiler.giniConcentration (q181) over per-user event
    * counts: exact integer rank/weight sums, one double chain. */
  def giniConcentration(keyCol: String): String =
    s"""WITH c AS (SELECT $keyCol, count(*) AS x FROM events GROUP BY 1),
       |r AS (SELECT x, row_number() OVER (ORDER BY x, $keyCol) AS i FROM c)
       |SELECT count(*)::BIGINT AS n_entities, CAST(sum(x) AS BIGINT) AS total,
       |  (2.0 * CAST(sum(i * x) AS DOUBLE)
       |     - CAST(count(*) + 1 AS DOUBLE) * CAST(sum(x) AS DOUBLE))
       |   / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) AS gini
       |FROM r""".stripMargin

  /** Mirror of EventAnalytics.burstCeiling (q182): the same range-frame
    * window count (events of the same user in [t, t+window)), per-user
    * max — linear sliding frame in both engines, never the naive
    * per-entity quadratic self-join. */
  def burstCeiling(windowSeconds: Int): String = {
    val winUs = windowSeconds * 1000000L
    s"""WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
       |c AS (SELECT u, count(*) OVER (PARTITION BY u ORDER BY us
       |        RANGE BETWEEN CURRENT ROW AND ${winUs - 1L} FOLLOWING) AS w
       |      FROM b)
       |SELECT u AS user_id, CAST(max(w) AS BIGINT) AS burst_max
       |FROM c GROUP BY 1""".stripMargin
  }

  /** Mirror of TextAnalysis.vocabGrowthCurve (q183): first-doc min per
    * token, conditional sums per literal checkpoint, lag delta. */
  def vocabGrowthCurve(checkpoints: Seq[Long], idCol: String): String = {
    val sums = checkpoints.zipWithIndex.map { case (c, i) =>
      s"CAST(sum(CASE WHEN first < $c THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
    }.mkString(",\n       |    ")
    val branches = checkpoints.zipWithIndex.map { case (c, i) =>
      s"SELECT CAST($c AS BIGINT) AS checkpoint, v$i AS vocab_size FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH fd AS (SELECT tok, min($idCol) AS first FROM (
       |    SELECT $idCol, unnest(list_distinct($toks)) AS tok FROM documents)
       |  GROUP BY 1),
       |s AS (SELECT
       |    $sums
       |  FROM fd),
       |u AS ($branches)
       |SELECT checkpoint, vocab_size,
       |  vocab_size - COALESCE(lag(vocab_size) OVER (ORDER BY checkpoint), 0)
       |    AS new_tokens
       |FROM u""".stripMargin
  }

  /** Mirror of TextAnalysis.charClassProfile (q184): per-row regex
    * class counts summed exactly, one ratio. */
  def charClassProfile(groupCol: String): String =
    s"""WITH p AS (SELECT $groupCol,
       |    CAST(length(text) AS BIGINT) AS n,
       |    CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS lo,
       |    CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS up,
       |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS di,
       |    CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS sp
       |  FROM documents)
       |SELECT $groupCol, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_chars, CAST(sum(lo) AS BIGINT) AS n_lower,
       |  CAST(sum(up) AS BIGINT) AS n_upper, CAST(sum(di) AS BIGINT) AS n_digit,
       |  CAST(sum(sp) AS BIGINT) AS n_space,
       |  CAST(sum(n) - sum(lo) - sum(up) - sum(di) - sum(sp) AS BIGINT) AS n_other,
       |  CAST(sum(lo) + sum(up) AS DOUBLE) / CAST(NULLIF(sum(n), 0) AS DOUBLE) AS alpha_ratio
       |FROM p GROUP BY 1""".stripMargin

  /** Mirror of Dedup.minhashEstimatorReport (q175): the q15 band-key
    * candidate replay, exact shingle Jaccard AND the k-sample signature
    * estimate, one abs diff. */
  def minhashEstimatorReport(k: Int, bands: Int, idCol: String): String = {
    val r = k / bands
    val sig =
      s"""list_transform(range(0, $k), i ->
         |  list_min(list_transform(hs, h -> ((2*i + 1)*h + $SigB*i + 1) % $P)))""".stripMargin
    s"""WITH sets AS (SELECT $idCol AS id, $shingleHashes AS hs FROM documents),
       |s2 AS (SELECT id, hs, len(hs) AS sz FROM sets WHERE len(hs) > 0),
       |sigs AS (SELECT id, $sig AS sig FROM s2),
       |bd AS (SELECT unnest(range(0, $bands)) AS band),
       |bk AS (SELECT s.id, bd.band,
       |         array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
       |       FROM sigs s CROSS JOIN bd),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
       |           AND x.id < y.id),
       |j AS (SELECT c.id_a, c.id_b,
       |        CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(a.sz + b.sz - len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          AS jaccard_exact,
       |        CAST(len(list_filter(range(1, $k + 1), i -> sa.sig[i] = sb.sig[i]))
       |          AS DOUBLE) / ${k.toDouble} AS jaccard_est
       |      FROM cand c
       |        JOIN s2 a ON c.id_a = a.id JOIN s2 b ON c.id_b = b.id
       |        JOIN sigs sa ON c.id_a = sa.id JOIN sigs sb ON c.id_b = sb.id)
       |SELECT id_a, id_b, jaccard_exact, jaccard_est,
       |  abs(jaccard_est - jaccard_exact) AS abs_err FROM j""".stripMargin
  }

  /** Mirror of the q176 composition: the q11 detector CTE joined back
    * to the declared metadata column, one equality verdict. */
  def langAgreement(idCol: String): String =
    s"""WITH li AS MATERIALIZED ($textLangId)
       |SELECT d.$idCol, d.lang, li.lang_pred,
       |  d.lang = li.lang_pred AS agrees
       |FROM documents d JOIN li USING ($idCol)""".stripMargin

  /** Mirror of Sampling.reshardPlan (q177): the shared bucket mod both
    * shard counts, bounded matrix, one scalar total. */
  def reshardPlan(oldN: Int, newN: Int, idCol: String): String =
    s"""WITH c AS (SELECT ${sampleBucket(idCol)} % $oldN AS old_shard,
       |             ${sampleBucket(idCol)} % $newN AS new_shard FROM documents),
       |t AS (SELECT count(*) AS tt FROM c)
       |SELECT old_shard, new_shard, count(*)::BIGINT AS n_docs,
       |  old_shard <> new_shard AS moves,
       |  CAST(count(*) AS DOUBLE) / CAST(t.tt AS DOUBLE) AS doc_share
       |FROM c, t GROUP BY 1, 2, t.tt""".stripMargin

  /** Mirror of Sampling.budgetAllocation (q178): weight CASE-chain over
    * sorted keys, integer floor-division allocation, exact comparisons. */
  def budgetAllocation(budgetTokens: Long, weights: Seq[(String, Int)],
      strataCol: String): String = {
    val cases = weights.sortBy(_._1)
      .map { case (s, w) => s"WHEN '${sqlLit(s)}' THEN $w" }.mkString(" ")
    val alloc = s"(($budgetTokens * (CASE $strataCol $cases ELSE 0 END)) // 100)"
    s"""WITH a AS (SELECT $strataCol, count(*) AS n_docs,
       |    CAST(sum(len($toks)) AS BIGINT) AS available_tokens,
       |    CAST($alloc AS BIGINT) AS allocated_tokens
       |  FROM documents GROUP BY $strataCol)
       |SELECT $strataCol, n_docs, available_tokens, allocated_tokens,
       |  allocated_tokens > available_tokens AS underfilled,
       |  greatest(0, allocated_tokens - available_tokens) AS deficit_tokens
       |FROM a""".stripMargin
  }

  /** Mirror of Multimodal.mediaBudgetReport (q179): the stub-meta CTE,
    * lower-median rank pick, (bytes desc, id asc) argmax via a second
    * rank window. */
  def mediaBudgetReport: String =
    s"""WITH meta AS MATERIALIZED ($multimodalMeta),
       |r AS (SELECT media_type, media_id, byte_len,
       |        row_number() OVER (PARTITION BY media_type
       |          ORDER BY byte_len, media_id) AS rn,
       |        row_number() OVER (PARTITION BY media_type
       |          ORDER BY byte_len DESC, media_id ASC) AS rnl,
       |        count(*) OVER (PARTITION BY media_type) AS n FROM meta)
       |SELECT media_type, CAST(max(n) AS BIGINT) AS n_objects,
       |  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       |  min(CASE WHEN rn * 2 = n + n % 2 THEN byte_len END) AS median_bytes,
       |  min(CASE WHEN rnl = 1 THEN media_id END) AS largest_id,
       |  min(CASE WHEN rnl = 1 THEN byte_len END) AS largest_bytes
       |FROM r GROUP BY 1""".stripMargin

  /** Mirror of Dedup.sourceMinhashOverlap (q170): per-source signature
    * as the min over ALL member shingle hashes of each permutation (the
    * union-merge property), pairwise exact agreement counts. */
  def sourceMinhashOverlap(k: Int, groupCol: String): String =
    s"""WITH sh AS (SELECT $groupCol AS g, unnest($shingleHashes) AS h
       |            FROM documents),
       |idx AS (SELECT unnest(range(0, $k)) AS i),
       |sig AS (SELECT g, i, min(((2*i + 1)*h + $SigB*i + 1) % $P) AS v
       |        FROM sh CROSS JOIN idx GROUP BY 1, 2)
       |SELECT a.g AS source_a, b.g AS source_b,
       |  CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
       |  CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)
       |    / ${k.toDouble} AS est_jaccard
       |FROM sig a JOIN sig b ON a.i = b.i AND a.g < b.g
       |GROUP BY 1, 2""".stripMargin

  /** Mirror of EventAnalytics.eventDedupWindow (q171): epoch-aligned
    * window arithmetic, keep-first by (ts, event_id) rank. A hash-
    * sampled slice re-emits with shifted ids (the declared query's
    * duplicate injection — same ts, so the collapse branch fires). */
  def eventDedupWindow(windowMinutes: Int, injectPct: Int,
      idShift: Long): String = {
    val winUs = windowMinutes * 60L * 1000000L
    s"""WITH ev AS (SELECT user_id, event_type, value, event_id, ts FROM events
       |  UNION ALL
       |  SELECT user_id, event_type, value, event_id + $idShift, ts
       |  FROM events WHERE ${sampleBucket("event_id")} < $injectPct),
       |w AS (SELECT user_id, event_type, value, event_id, ts,
       |    epoch_us(ts) - epoch_us(ts) % $winUs AS wu FROM ev),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, value, wu
       |          ORDER BY ts, event_id) AS rn,
       |        count(*) OVER (PARTITION BY user_id, event_type, value, wu) AS c
       |      FROM w)
       |SELECT user_id, event_type, value, make_timestamp(wu) AS window_start,
       |  event_id AS kept_event_id, CAST(c AS BIGINT) AS n_events
       |FROM r WHERE rn = 1""".stripMargin
  }

  /** Mirror of TextAnalysis.curriculumStages (q172): rank + group count
    * windows, the explicit integer band formula. */
  def curriculumStages(stages: Int, groupCol: String, idCol: String): String =
    s"""WITH d AS (SELECT $idCol, $groupCol,
       |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
       |      AS BIGINT) AS difficulty FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY $groupCol
       |          ORDER BY difficulty, $idCol) AS rn,
       |        count(*) OVER (PARTITION BY $groupCol) AS n FROM d)
       |SELECT $idCol, $groupCol, difficulty,
       |  ((rn - 1) * $stages) // n + 1 AS stage FROM r""".stripMargin

  /** Mirror of Profiler.winsorizeReport (q173): pinned-rank bounds over
    * the (value, id) total order, value-exact clamp counts. */
  def winsorizeReport(keyCol: String, valueCol: String, idCol: String,
      loPct: Int, hiPct: Int): String =
    s"""WITH base AS (SELECT $keyCol, $idCol AS i, CAST($valueCol AS DOUBLE) AS v
       |  FROM events WHERE $valueCol IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY $keyCol ORDER BY v, i) AS rn,
       |        count(*) OVER (PARTITION BY $keyCol) AS n FROM base),
       |b AS (SELECT $keyCol, CAST(max(n) AS BIGINT) AS n_rows,
       |        min(CASE WHEN rn = greatest(1, ($loPct*n + 99) // 100) THEN v END)
       |          AS lo_bound,
       |        min(CASE WHEN rn = n + 1 - greatest(1, (${100 - hiPct}*n + 99) // 100)
       |          THEN v END) AS hi_bound
       |      FROM r GROUP BY 1)
       |SELECT b.$keyCol, b.n_rows, b.lo_bound, b.hi_bound,
       |  CAST(sum(CASE WHEN base.v < b.lo_bound THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clamped_low,
       |  CAST(sum(CASE WHEN base.v > b.hi_bound THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clamped_high
       |FROM base JOIN b USING ($keyCol) GROUP BY 1, 2, 3, 4""".stripMargin

  /** Mirror of Dedup.lengthBandPairs (q174): the banding is lossless, so
    * the oracle IS the naive same-group length-difference filter. */
  def lengthBandPairs(d: Int, groupCol: String, idCol: String): String =
    s"""WITH l AS (SELECT $idCol, $groupCol, CAST(len($toks) AS BIGINT) AS len
       |           FROM documents)
       |SELECT a.$idCol AS id_a, b.$idCol AS id_b, a.$groupCol,
       |  a.len AS len_a, b.len AS len_b
       |FROM l a JOIN l b ON a.$groupCol = b.$groupCol
       |  AND a.$idCol < b.$idCol AND abs(a.len - b.len) <= $d""".stripMargin

  /** Mirror of Dedup.dedupAgainstSignatures: MinHash signatures from the
    * public coefficient family, LSH band-key collisions between the new
    * batch (bucket < newPct) and the stored rest, and the exact integer
    * signature-Jaccard estimator. */
  def sigStoreDedup(newPct: Int, k: Int, bands: Int, threshold: Double,
      idCol: String): String = {
    val r = k / bands
    val sig =
      s"""list_transform(range(0, $k), i ->
         |  list_min(list_transform(hs, h -> ((2*i + 1)*h + $SigB*i + 1) % $P)))""".stripMargin
    s"""WITH sets AS (SELECT $idCol AS id, ${sampleBucket(idCol)} AS b,
       |                $shingleHashes AS hs FROM documents),
       |sigs AS (SELECT id, b, $sig AS sig FROM sets WHERE len(hs) > 0),
       |bd AS (SELECT unnest(range(0, $bands)) AS band),
       |bn AS (SELECT s.id, bd.band,
       |         array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
       |       FROM sigs s CROSS JOIN bd WHERE s.b < $newPct),
       |bo AS (SELECT s.id, bd.band,
       |         array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
       |       FROM sigs s CROSS JOIN bd WHERE s.b >= $newPct),
       |cand AS (SELECT DISTINCT bn.id AS new_id, bo.id AS old_id
       |         FROM bn JOIN bo ON bn.band = bo.band AND bn.key = bo.key)
       |SELECT c.new_id, c.old_id,
       |  CAST(len(list_filter(range(1, $k + 1), i -> sa.sig[i] = sb.sig[i]))
       |    AS DOUBLE) / ${k.toDouble} AS sig_jaccard
       |FROM cand c
       |JOIN sigs sa ON c.new_id = sa.id
       |JOIN sigs sb ON c.old_id = sb.id
       |WHERE CAST(len(list_filter(range(1, $k + 1), i -> sa.sig[i] = sb.sig[i]))
       |    AS DOUBLE) / ${k.toDouble} >= $threshold""".stripMargin
  }

  /** Mirror of Dedup.bbitSignaturePairs: full-signature band-bucket
    * candidates, full and b-lowest-bits match counts, the debiased
    * `(M - C)/(1 - C)` estimator as the identical double chain. */
  def bbitSignaturePairs(k: Int, bands: Int, b: Int, threshold: Double,
      idCol: String): String = {
    val r = k / bands
    val m = 1L << b
    val c = 1.0 / m
    val sig =
      s"""list_transform(range(0, $k), i ->
         |  list_min(list_transform(hs, h -> ((2*i + 1)*h + $SigB*i + 1) % $P)))""".stripMargin
    def est(cond: String) =
      s"CAST(len(list_filter(range(1, $k + 1), i -> $cond)) AS DOUBLE) / ${k.toDouble}"
    val full = est(s"sa.sig[i] = sb.sig[i]")
    val bbit = s"(${est(s"(sa.sig[i] % $m) = (sb.sig[i] % $m)")} - $c) / ${1.0 - c}"
    s"""WITH sets AS (SELECT $idCol AS id, $shingleHashes AS hs FROM documents),
       |sigs AS (SELECT id, $sig AS sig FROM sets WHERE len(hs) > 0),
       |bd AS (SELECT unnest(range(0, $bands)) AS band),
       |bk AS (SELECT s.id, bd.band,
       |         array_to_string(s.sig[bd.band*$r + 1 : bd.band*$r + $r], '_') AS key
       |       FROM sigs s CROSS JOIN bd),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key
       |           AND x.id < y.id)
       |SELECT c.id_a, c.id_b, $full AS sig_jaccard, $bbit AS bbit_jaccard
       |FROM cand c
       |JOIN sigs sa ON c.id_a = sa.id
       |JOIN sigs sb ON c.id_b = sb.id
       |WHERE $full >= $threshold""".stripMargin
  }

  /** Mirror of the q120 release bundle: quality curation, near-dup
    * components computed ON the curated subset, cluster-keyed split,
    * content-addressed shard — one artifact per release doc. */
  def releaseBundle(minTokens: Int, maxTokens: Int, minMeanTokLen: Double,
      maxMeanTokLen: Double, maxTopTokRatio: Double, minStopwords: Int,
      threshold: Double, maxDocFreq: Int, testPct: Int, nShards: Int,
      idCol: String): String = {
    val qf = qualityFilter(injectPct = 0, injectSuffix = "unused",
      minTokens, maxTokens, minMeanTokLen, maxMeanTokLen, maxTopTokRatio,
      minStopwords, idCol)
    val comp = s"COALESCE(c.component, d.$idCol)"
    s"""WITH RECURSIVE curated AS (
       |  SELECT d.* FROM documents d
       |  WHERE d.$idCol IN (SELECT $idCol FROM ($qf) WHERE keep)),
       |pairs AS (${ngramJaccardPairs(threshold, maxDocFreq, "curated")}),
       |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT d.$idCol, $comp AS component,
       |  CASE WHEN ${sampleBucket(comp)} < $testPct THEN 'test' ELSE 'train'
       |    END AS split,
       |  (${sampleBucket(s"d.$idCol")}) % $nShards AS shard_id
       |FROM curated d LEFT JOIN comp c ON d.$idCol = c.id""".stripMargin
  }

  /** Shared recursive transitive-closure CTE chain over the q14 pair
    * graph ("pairs" → "sym" → "reach" → "comp"). */
  private def closureCtes(threshold: Double, maxDocFreq: Int): String =
    s"""pairs AS (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)""".stripMargin

  /** Mirror of GraphOps.nodeStats over the q14 pair graph: canonical
    * distinct edges, two-side degree counts, ordered-wedge triangles
    * closed by an EXISTS probe, left-join zero-fill. */
  def graphNodeStats(threshold: Double, maxDocFreq: Int): String =
    s"""WITH p AS (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM p WHERE id_a <> id_b),
       |deg AS (SELECT id, count(*)::BIGINT AS degree FROM (
       |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       |tri AS (SELECT x.a AS ta, x.b AS tb, y.b AS tc
       |        FROM e x JOIN e y ON x.b = y.a
       |        WHERE EXISTS (SELECT 1 FROM e z
       |                      WHERE z.a = x.a AND z.b = y.b)),
       |pt AS (SELECT id, count(*)::BIGINT AS nt FROM (
       |    SELECT ta AS id FROM tri UNION ALL SELECT tb FROM tri
       |    UNION ALL SELECT tc FROM tri) GROUP BY 1)
       |SELECT d.id, d.degree, COALESCE(pt.nt, 0)::BIGINT AS n_triangles
       |FROM deg d LEFT JOIN pt USING (id)""".stripMargin

  /** Mirror of GraphOps.kCore over the q14 pair graph: `rounds` unrolled
    * synchronous peel stages (degree -> survivors -> filtered edges),
    * then the final within-core degrees at >= k. */
  def kCore(k: Int, rounds: Int, threshold: Double,
      maxDocFreq: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""d$i AS (SELECT id, count(*) AS deg FROM (
         |    SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY 1),
         |s$i AS (SELECT id FROM d$i WHERE deg >= $k),
         |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN s$i sa ON e.a = sa.id
         |        JOIN s$i sb ON e.b = sb.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |e0 AS (SELECT DISTINCT least(id_a, id_b) AS a,
       |         greatest(id_a, id_b) AS b FROM pairs WHERE id_a <> id_b),
       |$stages
       |SELECT id, count(*)::BIGINT AS core_degree FROM (
       |  SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY 1 HAVING count(*) >= $k""".stripMargin
  }

  /** Mirror of GraphOps.degreeBands over the q14 pair graph: degrees,
    * bit-length bands, bounded band histogram. */
  def degreeBands(threshold: Double, maxDocFreq: Int): String =
    s"""WITH p AS (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM p WHERE id_a <> id_b),
       |deg AS (SELECT id, count(*) AS deg FROM (
       |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
       |SELECT CAST(length(bin(deg)) AS INTEGER) AS band,
       |  count(*)::BIGINT AS n_nodes,
       |  min(deg)::BIGINT AS min_degree, max(deg)::BIGINT AS max_degree
       |FROM deg GROUP BY 1""".stripMargin

  /** Mirror of Dedup.clusterPurity: the recursive closure's components
    * joined to the documents' label columns, per-component distincts. */
  def clusterPurity(threshold: Double, maxDocFreq: Int,
      labelA: String = "lang", labelB: String = "source"): String =
    s"""WITH RECURSIVE ${closureCtes(threshold, maxDocFreq)}
       |SELECT c.component, count(*)::BIGINT AS n_members,
       |  count(DISTINCT d.$labelA)::BIGINT AS n_langs,
       |  count(DISTINCT d.$labelB)::BIGINT AS n_sources,
       |  count(DISTINCT d.$labelA) > 1 AS mixed_lang,
       |  count(DISTINCT d.$labelB) > 1 AS mixed_source
       |FROM comp c JOIN documents d ON c.id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** Mirror of Profiler.benfordAudit: leading digit of the floored
    * value, per-mille observed shares vs the literal Benford table. */
  def benfordAudit(table: String, valueCol: String): String = {
    val expected = Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L,
      5 -> 79L, 6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val cases = expected.map { case (d, e) => s"WHEN digit = $d THEN $e" }
      .mkString(" ")
    s"""WITH d AS (SELECT CAST(substring(CAST(CAST(floor($valueCol) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |    FROM $table WHERE $valueCol >= 1),
       |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
       |o AS (SELECT digit, n,
       |        CAST((n * 1000) // sum(n) OVER () AS BIGINT) AS observed_per_mille,
       |        CAST(CASE $cases END AS BIGINT) AS expected_per_mille
       |      FROM c)
       |SELECT digit, n, observed_per_mille, expected_per_mille,
       |  abs(observed_per_mille - expected_per_mille) AS dev_per_mille
       |FROM o""".stripMargin
  }

  /** Mirror of Profiler.candidateKeyAudit: per declared combo, row
    * count vs distinct-tuple count, unioned long-form. */
  def candidateKeyAudit(table: String, combos: Seq[Seq[String]]): String =
    combos.map { cs =>
      val tup = cs.mkString("(", ", ", ")")
      s"""SELECT '${cs.mkString(",")}' AS combo,
         |  count(*)::BIGINT AS n_rows,
         |  count(DISTINCT $tup)::BIGINT AS n_distinct,
         |  count(DISTINCT $tup) = count(*) AS is_key
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of Profiler.functionalDependencyAudit: per declared rule,
    * determinant groups with >1 distinct dependent, unioned long-form. */
  def functionalDependencyAudit(table: String,
      rules: Seq[(String, String)]): String =
    rules.map { case (det, dep) =>
      s"""SELECT '$det->$dep' AS rule, count(*)::BIGINT AS n_keys,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(max(nd) AS BIGINT) AS max_deps,
         |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $det, count(DISTINCT $dep) AS nd FROM $table
         |      GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mirror of Profiler.concentrationCurve: per-entity counts, the
    * (count desc, key asc) rank/cumsum windows, ceiling checkpoint
    * ranks, per-mille integer share. */
  def concentrationCurve(table: String, keyCol: String,
      checkpoints: Seq[Int]): String =
    s"""WITH c AS (SELECT $keyCol AS k, count(*)::BIGINT AS c
       |           FROM $table GROUP BY 1),
       |r AS (SELECT k, c,
       |        row_number() OVER (ORDER BY c DESC, k ASC) AS r,
       |        sum(c) OVER (ORDER BY c DESC, k ASC
       |                     ROWS UNBOUNDED PRECEDING) AS cum,
       |        count(*) OVER () AS n, sum(c) OVER () AS tot
       |      FROM c),
       |e AS (SELECT unnest([${checkpoints.mkString(", ")}]) AS pct)
       |SELECT e.pct, r.r AS top_entities, CAST(r.n AS BIGINT) AS n_entities,
       |  CAST(r.cum AS BIGINT) AS events_covered,
       |  CAST(r.tot AS BIGINT) AS total_events,
       |  CAST((r.cum * 1000) // r.tot AS BIGINT) AS share_per_mille
       |FROM r JOIN e ON r.r = (e.pct * r.n + 99) // 100""".stripMargin

  /** Mirror of Profiler.correlationMatrix over lineitem: micro-scaled
    * HUGEINT moment sums, the identical double combination chain. */
  def correlationMatrix(cols: Seq[String], scale: Long,
      table: String): String = {
    val idx = cols.indices
    def m(c: String) =
      s"CAST(floor($c::DOUBLE * ${scale.toDouble} + 0.5) AS HUGEINT)"
    val moments =
      idx.map(i => s"sum(${m(cols(i))}) AS s$i") ++
      idx.map(i => s"sum(${m(cols(i))} * ${m(cols(i))}) AS q$i") ++
      (for { i <- idx; j <- idx if i < j } yield
        s"sum(${m(cols(i))} * ${m(cols(j))}) AS p${i}_$j")
    val rows = for { i <- idx; j <- idx if i < j } yield {
      val num = s"(n::DOUBLE * p${i}_$j::DOUBLE - s$i::DOUBLE * s$j::DOUBLE)"
      val den = s"(sqrt(n::DOUBLE * q$i::DOUBLE - s$i::DOUBLE * s$i::DOUBLE)" +
        s" * sqrt(n::DOUBLE * q$j::DOUBLE - s$j::DOUBLE * s$j::DOUBLE))"
      s"""SELECT '${sqlLit(cols(i))}' AS col_a, '${sqlLit(cols(j))}' AS col_b,
         |  $num / $den AS pearson_r FROM a""".stripMargin
    }
    s"""WITH a AS (SELECT count(*)::BIGINT AS n, ${moments.mkString(", ")}
       |           FROM $table)
       |${rows.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Mirror of Profiler.profileDiff over the hash-split halves of
    * documents: two profile CTE sets joined on the column name,
    * IS DISTINCT FROM for the null-safe min/max movement check. */
  def profileDiff(cols: Seq[String], newPct: Int, idCol: String): String = {
    def table(cond: String) =
      s"(SELECT * FROM documents WHERE ${sampleBucket(idCol)} $cond) t"
    s"""WITH a AS (${profile(table(s"< $newPct"), cols)}),
       |b AS (${profile(table(s">= $newPct"), cols)})
       |SELECT a.column_name, a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
       |  a.n_distinct AS n_distinct_a, b.n_distinct AS n_distinct_b,
       |  (b.n_distinct - a.n_distinct) AS distinct_delta,
       |  (b.n_nulls - a.n_nulls) AS nulls_delta,
       |  ((a.min_value IS DISTINCT FROM b.min_value)
       |    OR (a.max_value IS DISTINCT FROM b.max_value)) AS minmax_changed
       |FROM a JOIN b ON a.column_name = b.column_name""".stripMargin
  }

  /** Mirror of Profiler.histogram: scalar min/max, the identical clamped
    * bucket chain, zero-filled grid join. */
  def histogram(valueCol: String, nBuckets: Int, table: String): String =
    s"""WITH mm AS (SELECT min($valueCol::DOUBLE) AS lo,
       |              max($valueCol::DOUBLE) AS hi FROM $table),
       |b AS (SELECT CASE WHEN hi = lo THEN 0
       |        ELSE least(floor(($valueCol::DOUBLE - lo) * $nBuckets
       |          / (hi - lo))::INT, ${nBuckets - 1}) END AS bucket
       |      FROM $table, mm),
       |c AS (SELECT bucket, count(*)::BIGINT AS n_rows FROM b GROUP BY 1)
       |SELECT g.bucket,
       |  lo + g.bucket::DOUBLE * (hi - lo) / $nBuckets AS bucket_lo,
       |  lo + (g.bucket + 1)::DOUBLE * (hi - lo) / $nBuckets AS bucket_hi,
       |  COALESCE(c.n_rows, 0)::BIGINT AS n_rows
       |FROM (SELECT unnest(range(0, $nBuckets))::INT AS bucket) g
       |LEFT JOIN c USING (bucket), mm""".stripMargin

  /** Mirror of TextAnalysis.rankBlend on (n_chars, n_tokens): per-group
    * row_number ranks under total orders, identical percentile and blend
    * chains. */
  def rankBlend: String = {
    def pr(r: String) =
      s"CASE WHEN n = 1 THEN 0.0 ELSE ($r - 1)::DOUBLE / (n - 1)::DOUBLE END"
    s"""WITH d AS (SELECT doc_id, lang, n_chars,
       |             len($toks)::BIGINT AS n_tokens FROM documents),
       |w AS (SELECT doc_id, lang,
       |        count(*) OVER (PARTITION BY lang) AS n,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY n_chars DESC, doc_id ASC) AS r1,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY n_tokens DESC, doc_id ASC) AS r2
       |      FROM d)
       |SELECT doc_id, lang,
       |  ${pr("r1")} AS pct_rank_n_chars,
       |  ${pr("r2")} AS pct_rank_n_tokens,
       |  (${pr("r1")} + ${pr("r2")}) / 2.0 AS blended_rank
       |FROM w""".stripMargin
  }

  /** Mirror of Dedup.dedupProvenance: the closure's non-representative
    * members with their cluster representative. */
  def dedupProvenance(threshold: Double, maxDocFreq: Int): String =
    s"""WITH RECURSIVE ${closureCtes(threshold, maxDocFreq)}
       |SELECT id AS removed_id, component AS kept_id FROM comp
       |WHERE id <> component""".stripMargin

  /** Mirror of Dedup.effectiveSizeByGroup: left-join cluster labels onto
    * the corpus, per-group distinct-cluster counts, one division. */
  def effectiveSizeByGroup(threshold: Double, maxDocFreq: Int,
      groupCol: String, idCol: String): String =
    s"""WITH RECURSIVE ${closureCtes(threshold, maxDocFreq)}
       |SELECT d.$groupCol, count(*)::BIGINT AS n_docs,
       |  count(DISTINCT COALESCE(c.component, d.$idCol))::BIGINT AS n_unique,
       |  CAST(count(DISTINCT COALESCE(c.component, d.$idCol)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS effective_ratio
       |FROM documents d LEFT JOIN comp c ON d.$idCol = c.id
       |GROUP BY 1""".stripMargin

  /** Mirror of the q90 composition: the q28 component graph aggregated to
    * a cluster-size histogram. */
  def clusterHistogram(threshold: Double, maxDocFreq: Int): String =
    s"""SELECT sz AS cluster_size, count(*) AS n_clusters FROM (
       |  SELECT component, count(*) AS sz
       |  FROM (${dedupComponents(threshold, maxDocFreq)})
       |  GROUP BY component)
       |GROUP BY sz""".stripMargin

  /** Mirror of Dedup.containmentPairs: the ngramJaccardPairs inverted
    * index with both orientations kept and the inner-set normalizer. */
  def containmentPairs(threshold: Double, maxDocFreq: Int): String =
    s"""WITH sets AS (SELECT doc_id AS id, $shingleHashes AS hs FROM documents),
       |sets2 AS (SELECT id, hs, len(hs) AS sz FROM sets WHERE len(hs) > 0),
       |inv AS (SELECT id, unnest(hs) AS h FROM sets2),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= $maxDocFreq),
       |invf AS (SELECT inv.id, inv.h FROM inv JOIN rare USING (h)),
       |inter AS (SELECT x.id AS inner_id, y.id AS outer_id, count(*) AS inter
       |          FROM invf x JOIN invf y ON x.h = y.h AND x.id <> y.id
       |          GROUP BY 1, 2)
       |SELECT i.inner_id, i.outer_id,
       |       CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
       |FROM inter i JOIN sets2 sa ON i.inner_id = sa.id
       |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= $threshold""".stripMargin

  /** Mirror of GraphOps.labelPropagation over the q14 pair graph with
    * language seeds: the fixed-round synchronous vote unrolls into
    * `rounds` chained CTE stages, each one equi-join + one (dst, label)
    * count + one (votes DESC, label ASC) argmax window — the BpeTrain
    * unrolling treatment applied to graph iteration. */
  def labelPropagation(threshold: Double, maxDocFreq: Int,
      rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""v$r AS (SELECT d.dst, l.label, count(*) AS votes
         |        FROM dirx d JOIN l${r - 1} l ON d.src = l.id GROUP BY 1, 2),
         |l$r AS (SELECT dst AS id, label FROM (
         |    SELECT dst, label, row_number() OVER (PARTITION BY dst
         |      ORDER BY votes DESC, label ASC) AS rnk FROM v$r)
         |  WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (${ngramJaccardPairs(threshold, maxDocFreq)}),
       |seed AS (SELECT doc_id AS id, lang AS label FROM documents),
       |dirx AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |         UNION ALL SELECT id_b, id_a FROM pairs
       |         UNION ALL SELECT id, id FROM seed),
       |l0 AS (SELECT id, label FROM seed),
       |$stages
       |SELECT l$rounds.id AS doc_id, l$rounds.label,
       |  l$rounds.label <> s.label AS changed
       |FROM l$rounds JOIN seed s ON l$rounds.id = s.id""".stripMargin
  }

  /** Mirror of GraphOps.pageRank over the min-support co-engagement
    * graph: the fixed-round synchronous update unrolls into `rounds`
    * chained CTE stages, each one equi-join + one dst-sum of integer
    * floor quotients — every division `//`, so the fixed-point replays
    * bit-identically. */
  def pageRank(minUsers: Int, maxItemsPerUser: Int, rounds: Int,
      scale: Long, dampNum: Long, dampDen: Long): String = {
    val teleport = (dampDen - dampNum) * scale / dampDen
    // CAST each stage's rank back to BIGINT: DuckDB's sum(BIGINT) widens
    // to HUGEINT, which pandas renders as float64 — the driver's value
    // hash then sees 1000000.0 against Spark's long 1000000 (the round-4
    // q143 hash mismatch). The quotient always fits: rank <= scale.
    val stages = (1 to rounds).map { r =>
      s"""r$r AS (SELECT d.dst AS id,
         |    CAST($teleport + ($dampNum * sum(r.rank // d.deg)) // $dampDen
         |      AS BIGINT) AS rank
         |  FROM dirx d JOIN r${r - 1} r ON d.src = r.id GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH it AS (SELECT user_id,
       |    json_extract_string(props, '$$.k')::INTEGER AS item, min(ts) AS f
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |  GROUP BY 1, 2),
       |cap AS (SELECT user_id, item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY f, item) AS rn FROM it) WHERE rn <= $maxItemsPerUser),
       |e AS (SELECT a.item AS id_a, b.item AS id_b
       |  FROM cap a JOIN cap b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= $minUsers),
       |d0 AS (SELECT id_a AS src, id_b AS dst FROM e
       |       UNION ALL SELECT id_b, id_a FROM e),
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM d0 GROUP BY 1),
       |dirx AS (SELECT d0.src, d0.dst, g.deg FROM d0
       |         JOIN deg g ON d0.src = g.src),
       |r0 AS (SELECT src AS id, $scale::BIGINT AS rank FROM deg),
       |$stages
       |SELECT r$rounds.id AS item_id, r$rounds.rank, g.deg AS degree
       |FROM r$rounds JOIN deg g ON r$rounds.id = g.src""".stripMargin
  }

  /** Mirror of Sampling.paretoFrontier on (n_chars, micro-scaled
    * type-token ratio): per-x max-y agg, prefix max over strictly-greater
    * x, survive iff y equals the same-x max and beats the greater-x max. */
  def paretoFrontier: String =
    s"""WITH pts AS (SELECT doc_id, n_chars::BIGINT AS x,
       |    (len(list_distinct($toks))::BIGINT * 1000000)
       |      // len($toks)::BIGINT AS y
       |  FROM documents WHERE n_chars IS NOT NULL),
       |gx AS (SELECT x, max(y) AS maxy FROM pts GROUP BY 1),
       |gg AS (SELECT x, maxy, max(maxy) OVER (ORDER BY x DESC
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gtmax FROM gx)
       |SELECT p.doc_id, p.x AS n_chars, p.y AS ttr_micro
       |FROM pts p JOIN gg ON p.x = gg.x
       |WHERE p.y = gg.maxy AND (gg.gtmax IS NULL OR gg.gtmax < p.y)""".stripMargin

  /** Mirror of TextAnalysis.backoffCoverage: lockstep three-slice unnest
    * for trigram positions, three HAVING-filtered count tables, three
    * LEFT joins, integer level counts. */
  def backoffCoverage(minCount: Int): String =
    s"""WITH $bigramCtes,
       |pos AS (SELECT doc_id AS id,
       |          unnest(t[1:len(t)-2]) AS w1, unnest(t[2:len(t)-1]) AS w2,
       |          unnest(t[3:len(t)]) AS w3
       |        FROM tkb WHERE len(t) >= 3),
       |tri AS (SELECT w1, w2, w3, 1 AS m1 FROM pos GROUP BY 1, 2, 3
       |        HAVING count(*) >= $minCount),
       |bi AS (SELECT ctx AS w2, nxt AS w3, 1 AS m2 FROM bg GROUP BY 1, 2
       |       HAVING count(*) >= $minCount),
       |uni AS (SELECT w3, 1 AS m3 FROM (SELECT unnest(t) AS w3 FROM tkb)
       |        GROUP BY 1 HAVING count(*) >= $minCount),
       |j AS (SELECT p.id,
       |        CASE WHEN t.m1 IS NOT NULL THEN 1 ELSE 0 END AS th,
       |        CASE WHEN b.m2 IS NOT NULL THEN 1 ELSE 0 END AS bh,
       |        CASE WHEN u.m3 IS NOT NULL THEN 1 ELSE 0 END AS uh
       |      FROM pos p
       |      LEFT JOIN tri t USING (w1, w2, w3)
       |      LEFT JOIN bi b USING (w2, w3)
       |      LEFT JOIN uni u USING (w3))
       |SELECT id AS doc_id, count(*) AS n_positions,
       |  CAST(sum(th) AS BIGINT) AS n_tri,
       |  CAST(sum((1 - th) * bh) AS BIGINT) AS n_bi,
       |  CAST(sum((1 - th) * (1 - bh) * uh) AS BIGINT) AS n_uni,
       |  CAST(sum((1 - th) * (1 - bh) * (1 - uh)) AS BIGINT) AS n_oov
       |FROM j GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.phraseMatch: literal dictionary VALUES list,
    * non-overlapping replace-count arithmetic, > 0 filter. */
  def phraseMatch(phrases: Seq[String], idCol: String): String = {
    val values = phrases.distinct.sorted
      .map(p => s"('${sqlLit(p)}')").mkString(", ")
    val nh = "(length(d.text) - length(replace(d.text, p.phrase, ''))) // length(p.phrase)"
    s"""SELECT d.$idCol, p.phrase, CAST($nh AS BIGINT) AS n_hits
       |FROM documents d CROSS JOIN (VALUES $values) p(phrase)
       |WHERE $nh > 0""".stripMargin
  }

  /** Mirror of Layout.zorderBuckets: the same per-bit interleave spelled
    * with DuckDB's `>> & <<` on the masked key and epoch-hour. */
  def zorderBuckets(bits: Int, bucketShift: Int): String = {
    val mask = (1L << bits) - 1L
    val x = s"(user_id & $mask)"
    val y = s"((epoch_us(ts) // 3600000000) & $mask)"
    val z = (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH zt AS (SELECT user_id, ($z) AS z FROM events)
       |SELECT z >> $bucketShift AS bucket, count(*) AS n,
       |  min(z) AS z_min, max(z) AS z_max,
       |  count(DISTINCT user_id) AS n_keys
       |FROM zt GROUP BY 1""".stripMargin
  }

  /** Mirror of Profiler.equidepthHistogram: the operator's closed-form
    * ntile arithmetic over distinct-value rank intervals equals a plain
    * NTILE window, which is what the oracle runs. */
  def equidepthHistogram(nBins: Int, table: String, valueCol: String): String =
    s"""WITH b AS (SELECT ntile($nBins) OVER (ORDER BY $valueCol) AS bin,
       |             $valueCol AS v
       |           FROM $table WHERE $valueCol IS NOT NULL)
       |SELECT CAST(bin AS INT) AS bin, count(*) AS n_rows,
       |  min(v) AS v_lo, max(v) AS v_hi
       |FROM b GROUP BY 1""".stripMargin

  /** Mirror of Sampling.weightedSample: the integer priority key and the
    * (key, id) total-order cut. */
  def weightedSample(n: Int, weightCol: String, idCol: String): String = {
    val u = s"(((($idCol % ${graft.operators.Sampling.IdFold}) * $Mix) % ${TextFunctions.TwoPow32}) % 1048576)"
    val key = s"(($u * 1000000) // greatest($weightCol, 1))"
    s"""SELECT $idCol, lang, $weightCol, $key AS wkey
       |FROM documents
       |WHERE $weightCol IS NOT NULL AND $weightCol >= 0
       |ORDER BY wkey ASC, $idCol ASC
       |LIMIT $n""".stripMargin
  }

  /** Mirror of SimilaritySearch.randomProject: the SAME ±1 literal matrix
    * (shared rpSign), identical left-assoc term order, micro floor. */
  def randomProject(outDim: Int, dim: Int): String = {
    val cols = (0 until outDim).map { o =>
      val terms = (1 to dim).map { i =>
        val s = graft.operators.SimilaritySearch.rpSign(o, i - 1, dim)
        s"embedding[$i]::DOUBLE * ${s.toDouble}"
      }.mkString(" + ")
      s"CAST(floor(($terms) * 1000000.0 + 0.5) AS BIGINT) AS p$o"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $cols
       |FROM embeddings""".stripMargin
  }

  /** Mirror of SimilaritySearch.mutualTop1 over the q58 kNN-LSH graph:
    * rank-1 rows, reciprocity equi-join, a < b orientation. */
  def mutualTop1Lsh(k: Int, dim: Int, nPlanes: Int, nTables: Int): String =
    s"""WITH knn AS (${knnJoinLsh(k, dim, nPlanes, nTables)}),
       |t1 AS (SELECT query_id, cand_id, score FROM knn WHERE rank = 1)
       |SELECT x.query_id AS id_a, x.cand_id AS id_b, x.score AS score
       |FROM t1 x JOIN t1 y
       |  ON x.query_id = y.cand_id AND x.cand_id = y.query_id
       |WHERE x.query_id < x.cand_id""".stripMargin

  /** Mirror of the q140 composition (knnJoin across label-disjoint
    * sets): per-positive top-k hard negatives, shared cosine chain. */
  def bipartiteKnn(k: Int, dim: Int, posPred: String,
      negPred: String): String = {
    val dotQ = dotTerms("e.embedding", "q.qv", dim)
    val n2e = dotTerms("e.embedding", "e.embedding", dim)
    val n2q = dotTerms("q.qv", "q.qv", dim)
    val score = s"($dotQ) / (sqrt($n2e) * sqrt($n2q))"
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE $posPred)
       |SELECT q.query_id, e.vec_id, $score AS score,
       |  row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY $score DESC, e.vec_id ASC) AS rank
       |FROM embeddings e, q
       |WHERE $negPred
       |QUALIFY rank <= $k""".stripMargin
  }

  /** Mirror of the q276 composition (knnJoinLshBipartiteAuto across
    * label-disjoint sets at correctness scale, where the auto sizing
    * resolves to the q58 (nPlanes, nTables) reference config with the
    * bucket cap off): per-positive top-k hard negatives among SRP
    * bucket-collision candidates, shared exact-cosine chain. No
    * self-pair exclusion — the sides are disjoint by the predicates,
    * mirroring [[bipartiteKnn]]. */
  def bipartiteKnnLsh(k: Int, dim: Int, nPlanes: Int, nTables: Int,
      posPred: String, negPred: String): String = {
    val n2 = dotTerms("embedding", "embedding", dim)
    val dotQY = dotTerms("q.v", "y.v", dim)
    val mask = (1L << nPlanes) - 1
    val anyTable = (0 until nTables).map { t =>
      s"((q.bits >> ${t * nPlanes}) & $mask) = ((y.bits >> ${t * nPlanes}) & $mask)"
    }.mkString(" OR ")
    s"""WITH n AS (SELECT vec_id AS id, label, embedding AS v, ($n2) AS n2,
       |             ${srpBits("embedding", dim, nPlanes * nTables)} AS bits
       |           FROM embeddings),
       |c AS (SELECT q.id AS query_id, y.id AS cand_id,
       |        ($dotQY) / (sqrt(q.n2) * sqrt(y.n2)) AS score
       |      FROM (SELECT * FROM n WHERE $posPred) q
       |      JOIN (SELECT * FROM n WHERE $negPred) y ON ($anyTable))
       |SELECT query_id, cand_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, cand_id ASC) AS rank
       |FROM c QUALIFY rank <= $k""".stripMargin
  }

  /** Left-associated squared-L2 terms between two vector SQL expressions
    * over the dsub-wide slice starting at 0-based `base` — each term
    * `(a[i]-b[i])²`, the exact chain PqCodeF32/L2ToLitF32 accumulate. */
  private def l2Terms(a: String, b: String, base: Int, dsub: Int): String =
    (1 to dsub).map { i =>
      val x = s"$a[${base + i}]::DOUBLE"
      val y = s"$b[${base + i}]::DOUBLE"
      s"(($x - $y) * ($x - $y))"
    }.mkString(" + ")

  /** Per-subspace argmin CTEs `a0..a{m-1}` shared by [[pqEncode]] and
    * [[ivfPqTopK]]: rank-1 over (dist ASC, code ASC) against the
    * lowest-id seed codebook — the replay of PqCodeF32's strict-< loop.
    * MATERIALIZED: DuckDB otherwise re-inlines each window CTE into the
    * m-way join and planning blows up (~300 s → ~1 s measured). */
  private def pqAssignCtes(m: Int, dsub: Int, ksub: Int): String =
    (0 until m).map { j =>
      val dt = l2Terms("e.embedding", "c.cv", j * dsub, dsub)
      s"""a$j AS MATERIALIZED (SELECT vec_id, code AS code_$j FROM (
         |  SELECT e.vec_id, c.code, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $dt ASC, c.code ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Mirror of SimilaritySearch.pqEncode with the seed codebook
    * (vec_id < ksub): m per-subspace argmin-L2 codes. */
  def pqEncode(m: Int, ksub: Int, dim: Int): String = {
    val dsub = dim / m
    val joins = (1 until m).map(j => s"JOIN a$j USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(j => s"code_$j").mkString(", ")
    s"""WITH cent AS MATERIALIZED (SELECT vec_id AS code, embedding AS cv
       |  FROM embeddings WHERE vec_id < $ksub),
       |${pqAssignCtes(m, dsub, ksub)}
       |SELECT vec_id, $codes FROM a0 $joins""".stripMargin
  }

  /** Mirror of SimilaritySearch.ivfPqTopK (seed codebooks, by_residual
    * off): probe the nprobe nearest L2 cells, rank by the ADC sum (per-
    * subspace query→centroid distance joined by code — the replay of the
    * literal lookup table), exact-L2 re-rank of the top `rerank`. Every
    * cut carries an explicit (value, vec_id) total order. */
  def ivfPqTopK(queryId: Long, k: Int, dim: Int, m: Int, ksub: Int,
      nlist: Int, nprobe: Int, rerank: Int): String = {
    val dsub = dim / m
    val joins = (1 until m).map(j => s"JOIN a$j USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(j => s"code_$j").mkString(", ")
    val probeDt = l2Terms("c.cv", "q.qv", 0, dim)
    val cellDt = l2Terms("e.embedding", "c.cv", 0, dim)
    val adcTerms = (0 until m)
      .map(j => "(" + l2Terms("q.qv", s"c$j.cv", j * dsub, dsub) + ")")
      .mkString(" + ")
    val codeJoins = (0 until m)
      .map(j => s"JOIN cent c$j ON c$j.code = x.code_$j").mkString(" ")
    val exDt = l2Terms("e.embedding", "q.qv", 0, dim)
    s"""WITH q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings
       |  WHERE vec_id = $queryId),
       |cent AS MATERIALIZED (SELECT vec_id AS code, embedding AS cv
       |  FROM embeddings WHERE vec_id < $ksub),
       |ccent AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cv
       |  FROM embeddings WHERE vec_id < $nlist),
       |probe AS MATERIALIZED (SELECT c.cid FROM ccent c, q
       |  ORDER BY $probeDt ASC, c.cid ASC LIMIT $nprobe),
       |cell AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY $cellDt ASC, c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN ccent c) WHERE rn = 1),
       |${pqAssignCtes(m, dsub, ksub)},
       |codes AS MATERIALIZED (SELECT vec_id, $codes FROM a0 $joins),
       |cand AS MATERIALIZED (SELECT x.vec_id, ($adcTerms) AS adist
       |  FROM codes x JOIN cell USING (vec_id) $codeJoins, q
       |  WHERE cell.cid IN (SELECT cid FROM probe)
       |  ORDER BY adist ASC, x.vec_id ASC LIMIT $rerank)
       |SELECT e.vec_id, $exDt AS dist
       |FROM cand JOIN embeddings e USING (vec_id), q
       |ORDER BY dist ASC, e.vec_id ASC LIMIT $k""".stripMargin
  }

  /** Mirror of FuzzyMatch.pairs as the ALL-PAIRS brute force — hash
    * equality proves the delete-neighborhood blocking lossless. */
  def fuzzyPairs(table: String, idCol: String, strCol: String,
      maxDist: Int): String =
    s"""SELECT a.$idCol AS id_a, b.$idCol AS id_b,
       |  CAST(levenshtein(a.$strCol, b.$strCol) AS INT) AS dist
       |FROM $table a JOIN $table b ON a.$idCol < b.$idCol
       |WHERE levenshtein(a.$strCol, b.$strCol) <= $maxDist""".stripMargin

  /** Mirror of FuzzyMatch.resolveEntities: brute-force fuzzy edges over
    * the distinct values, recursive min-label closure (q28's pattern). */
  def resolveEntities(table: String, strCol: String, maxDist: Int): String =
    s"""WITH RECURSIVE n AS (SELECT DISTINCT $strCol AS name FROM $table
       |  WHERE $strCol IS NOT NULL),
       |p AS (SELECT a.name AS id_a, b.name AS id_b FROM n a JOIN n b
       |  ON a.name < b.name AND levenshtein(a.name, b.name) <= $maxDist),
       |sym AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach(a, b) AS (SELECT a, b FROM sym
       |  UNION SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component
       |  FROM reach GROUP BY a)
       |SELECT n.name, COALESCE(c.component, n.name) AS cluster
       |FROM n LEFT JOIN comp c ON n.name = c.id""".stripMargin

  /** Mirror of Profiler.pivotCounts: one conditional count per declared
    * pivot value plus the unconditional total. */
  def pivotCounts(rowKey: String, pivotCol: String, values: Seq[String],
      table: String): String = {
    val cols = values.map(v =>
      s"count(CASE WHEN $pivotCol = '${sqlLit(v)}' THEN 1 END)::BIGINT AS \"${v}\"")
      .mkString(",\n       |  ")
    s"""SELECT $rowKey, $cols,
       |  count(*)::BIGINT AS total
       |FROM $table GROUP BY 1""".stripMargin
  }

  /** Mirror of EventAnalytics.sessionPaths: q23's lag+cumsum sessionizer
    * kept at event level, first-k path strings via ordered string_agg,
    * top-k under the (count desc, path asc) total order. */
  def sessionPaths(gapMinutes: Int, pathLen: Int, topK: Int): String = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged),
       |ranked AS (
       |  SELECT user_id, sid, event_type,
       |    row_number() OVER (PARTITION BY user_id, sid
       |      ORDER BY ts, event_id) AS rn
       |  FROM sess),
       |paths AS (
       |  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM ranked WHERE rn <= $pathLen GROUP BY 1, 2)
       |SELECT path, count(*)::BIGINT AS n_sessions FROM paths GROUP BY 1
       |ORDER BY n_sessions DESC, path ASC LIMIT $topK""".stripMargin
  }

  /** Mirror of Profiler.dqReport: the same one-pass conditional counts
    * (violation = predicate false OR null), unioned long-form. */
  def dqReport(rules: Seq[(String, String)], table: String): String = {
    val vcols = rules.zipWithIndex.map { case ((_, pred), i) =>
      s"count(CASE WHEN NOT COALESCE($pred, false) THEN 1 END)::BIGINT AS v$i"
    }.mkString(",\n       |    ")
    val branches = rules.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '${sqlLit(name)}' AS rule, v$i AS n_violations, n AS n_rows,
         |  CAST(v$i AS DOUBLE) / CAST(n AS DOUBLE) AS violation_rate FROM s"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT
       |    $vcols,
       |    count(*)::BIGINT AS n
       |  FROM $table)
       |$branches""".stripMargin
  }

  /** Mirror of EventAnalytics.madOutliers: deterministic lower medians
    * via rank windows, single-IEEE-op deviations and k·MAD compare. */
  def madOutliers(k: Int): String =
    s"""WITH base AS (SELECT user_id, event_id, CAST(value AS DOUBLE) AS v
       |  FROM events WHERE value IS NOT NULL),
       |m AS (SELECT user_id, v AS med FROM (
       |    SELECT user_id, v,
       |      row_number() OVER (PARTITION BY user_id ORDER BY v, event_id) AS rn,
       |      count(*) OVER (PARTITION BY user_id) AS n FROM base)
       |  WHERE rn = (n + 1) // 2),
       |d AS (SELECT b.user_id, b.event_id, m.med, abs(b.v - m.med) AS dev
       |  FROM base b JOIN m USING (user_id)),
       |md AS (SELECT user_id, dev AS mad FROM (
       |    SELECT user_id, dev,
       |      row_number() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
       |      count(*) OVER (PARTITION BY user_id) AS n FROM d)
       |  WHERE rn = (n + 1) // 2)
       |SELECT d.user_id, count(*)::BIGINT AS n_events,
       |  min(d.med) AS median_v, min(md.mad) AS mad,
       |  count(CASE WHEN d.dev > CAST($k AS DOUBLE) * md.mad THEN 1 END)::BIGINT
       |    AS n_outliers
       |FROM d JOIN md USING (user_id) GROUP BY 1""".stripMargin

  /** Mirror of Profiler.aggState ⊕ mergeAggStates: the FULL-RESCAN
    * aggregate the incremental state merge must equal. avg is
    * sum/count(*) (null rows count in the denominator), mirroring the
    * operator's post-merge division. */
  def aggStateMerge(keys: Seq[String], valueCol: String,
      table: String): String = {
    val ks = keys.mkString(", ")
    val v = s"CAST($valueCol AS BIGINT)"
    s"""SELECT $ks, count(*)::BIGINT AS n_rows,
       |  CAST(sum($v) AS BIGINT) AS sum_v,
       |  min($v) AS min_v, max($v) AS max_v,
       |  CAST(sum($v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_v
       |FROM $table GROUP BY $ks""".stripMargin
  }

  /** Mirror of Layout.balancedAssignment: rank window over the bounded
    * (key, count) table, sorted round-robin deal, per-partition loads. */
  def balancedAssignment(keyCol: String, nParts: Int,
      table: String): String =
    s"""WITH c AS (SELECT $keyCol AS key, count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1),
       |r AS (SELECT n, CAST((row_number() OVER (ORDER BY n DESC, key ASC)
       |    - 1) % $nParts AS INT) AS part FROM c)
       |SELECT part, CAST(sum(n) AS BIGINT) AS n_rows,
       |  count(*)::BIGINT AS n_keys, max(n) AS top_key_rows
       |FROM r GROUP BY 1""".stripMargin

  /** Mirror of Profiler.cascadeDeletePlan over customer→orders→lineitem:
    * per selected root, cascading child/grandchild delete counts,
    * zero-filled. */
  def purgePlan(rootPred: String): String =
    s"""WITH sel AS (SELECT c_custkey FROM customer WHERE $rootPred),
       |o AS (SELECT o_custkey, o_orderkey
       |  FROM orders JOIN sel ON o_custkey = c_custkey),
       |g AS (SELECT l_orderkey, count(*)::BIGINT AS gn FROM lineitem
       |  JOIN (SELECT DISTINCT o_orderkey FROM o) oo
       |    ON l_orderkey = oo.o_orderkey
       |  GROUP BY 1),
       |pr AS (SELECT o_custkey, count(*)::BIGINT AS nc,
       |    CAST(sum(COALESCE(gn, 0)) AS BIGINT) AS ng
       |  FROM o LEFT JOIN g ON o_orderkey = l_orderkey GROUP BY 1)
       |SELECT c_custkey, COALESCE(nc, 0)::BIGINT AS n_children,
       |  COALESCE(ng, 0)::BIGINT AS n_grandchildren
       |FROM sel LEFT JOIN pr ON c_custkey = o_custkey""".stripMargin

  /** Mirror of Sketches.heavyHittersExact over the injected head+tail
    * event key: the brute-force GROUP BY + exact integer threshold the
    * two-pass Misra-Gries scheme is guaranteed to reproduce. */
  def heavyHitters(capacity: Int): String =
    s"""WITH t AS (SELECT CASE WHEN user_id % 2 = 0 THEN event_type
       |    ELSE event_type || '#' || CAST(user_id AS VARCHAR) END AS value
       |  FROM events
       |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
       |tot AS (SELECT count(*)::BIGINT AS total FROM t)
       |SELECT value, count(*)::BIGINT AS n FROM t, tot
       |GROUP BY value, total
       |HAVING count(*) * ${capacity + 1} > total""".stripMargin

  /** Mirror of SparkUtil.bloomPrunedJoin on urgent orders × lineitem:
    * the PLAIN join — the Bloom prune must be invisible in the result. */
  def bloomJoinAgg(priority: String): String =
    s"""SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       |  count(DISTINCT o_orderkey)::BIGINT AS n_orders
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '${sqlLit(priority)}'
       |GROUP BY 1""".stripMargin

  /** Mirror of EventAnalytics.disorderAudit: same integer-hash arrival
    * jitter, running-max window per user, exact micro lateness. */
  def disorderAudit(maxDelayUs: Long): String = {
    val fold = graft.operators.Sampling.IdFold
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ev,
       |    epoch_us(ts) + (((event_id % $fold) * $Mix)
       |      % ${TextFunctions.TwoPow32}) % $maxDelayUs AS arr
       |  FROM events),
       |w AS (SELECT user_id, ev,
       |    max(ev) OVER (PARTITION BY user_id ORDER BY arr, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
       |  FROM e)
       |SELECT user_id, count(*)::BIGINT AS n_events,
       |  count(CASE WHEN seen > ev THEN 1 END)::BIGINT AS n_late,
       |  COALESCE(max(CASE WHEN seen > ev THEN seen - ev END), 0)::BIGINT
       |    AS max_late_us
       |FROM w GROUP BY 1""".stripMargin
  }

  /** Mirror of TextAnalysis.cooccurrencePairs: document-level token pair
    * support with exact marginals; confidence and lift are single
    * divisions of exact integers. */
  def cooccurrencePairs(minSupport: Int): String =
    s"""WITH dt AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |dfs AS (SELECT tok, count(*)::BIGINT AS df FROM dt GROUP BY 1),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
       |    count(*)::BIGINT AS n_pair
       |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)
       |SELECT tok_a, tok_b, n_pair, fa.df AS df_a, fb.df AS df_b,
       |  CAST(n_pair AS DOUBLE) / CAST(fa.df AS DOUBLE) AS conf,
       |  CAST(n_pair * n_docs AS DOUBLE)
       |    / CAST(fa.df * fb.df AS DOUBLE) AS lift
       |FROM p JOIN dfs fa ON tok_a = fa.tok
       |  JOIN dfs fb ON tok_b = fb.tok, nd""".stripMargin

  /** Mirror of Layout.zoneMapSkipReport over lineitem's orderkey shards:
    * plain grouped min/max/count plus the footer-stats prune flag. */
  def zoneMapSkipReport(shardWidth: Long, lo: String, hi: String): String =
    s"""SELECT l_orderkey // $shardWidth AS shard,
       |  CAST(count(*) AS BIGINT) AS n,
       |  min(l_shipdate) AS v_min, max(l_shipdate) AS v_max,
       |  CAST(count(CASE WHEN l_shipdate >= DATE '$lo'
       |    AND l_shipdate <= DATE '$hi' THEN 1 END) AS BIGINT) AS n_match,
       |  (max(l_shipdate) >= DATE '$lo' AND min(l_shipdate) <= DATE '$hi')
       |    AS scanned
       |FROM lineitem GROUP BY 1""".stripMargin

  /** Mirror of Layout.clusteringDepth over q145's shard shipdate ranges:
    * sweep-line (+1 at min, −1 at max+1) prefix sum in position order.
    * Dates become integer epoch days (DATE − DATE '1970-01-01'), matching
    * the operator's unix_date. */
  def clusteringDepth(shardWidth: Long): String =
    s"""WITH st AS (SELECT l_orderkey // $shardWidth AS shard,
       |    CAST(min(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS BIGINT)
       |      AS v_min,
       |    CAST(max(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS BIGINT)
       |      AS v_max
       |  FROM lineitem GROUP BY 1),
       |ev AS (SELECT v_min AS pos, CAST(1 AS BIGINT) AS d FROM st
       |  UNION ALL
       |  SELECT v_max + 1 AS pos, CAST(-1 AS BIGINT) AS d FROM st),
       |agg AS (SELECT pos, CAST(sum(d) AS BIGINT) AS delta
       |  FROM ev GROUP BY 1)
       |SELECT pos, CAST(sum(delta) OVER (ORDER BY pos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |  AS depth
       |FROM agg""".stripMargin

  /** The 60-bit md5-prefix hash of a string expression — the
    * [[graft.operators.Sketches.hash60]] replay (q44/q45 contract). */
  private def h60(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Mirror of StreamingOps.windowedBloom's BATCH twin over events
    * (q255): per epoch-aligned hour window, the Kirsch-Mitzenmacher
    * Bloom word table of `props`. Spark's tumbling 1-hour `window()`
    * is epoch-aligned, so `date_trunc('hour', ts)` replays the window
    * start exactly; the stream==batch equality of the operator itself
    * is spec-pinned (StreamingOpsSpec), putting the streaming output
    * transitively behind this gate. */
  def windowedBloom(mBits: Int, k: Int): String =
    s"""WITH e AS (SELECT date_trunc('hour', ts) AS window_start, props
       |           FROM events WHERE props IS NOT NULL),
       |h AS (SELECT window_start, ${h60("props")} AS h FROM e),
       |p AS (SELECT window_start,
       |        ((h >> 30) + i * ((h & 1073741823) * 2 + 1)) % $mBits AS pos
       |      FROM h CROSS JOIN (SELECT unnest(range(0, $k)) AS i) ii)
       |SELECT window_start,
       |  pos // ${graft.operators.Sketches.BloomWordBits} AS word_idx,
       |  bit_or(1::BIGINT << CAST(pos % ${graft.operators.Sketches.BloomWordBits}
       |    AS INT)) AS bits
       |FROM p GROUP BY 1, 2""".stripMargin

  /** Mirror of StreamingOps.windowedCms's batch twin over events
    * (q256): per hour window, the depth×width CMS occurrence grid of
    * `props` (no pre-agg by value — each row is one occurrence). */
  def windowedCms(width: Int, depth: Int): String =
    s"""WITH e AS (SELECT date_trunc('hour', ts) AS window_start, props
       |           FROM events WHERE props IS NOT NULL),
       |hh AS (SELECT window_start, ${h60("props")} AS h FROM e),
       |p AS (SELECT window_start, i,
       |        ((h >> 30) + i * ((h & 1073741823) * 2 + 1)) % $width AS pos
       |      FROM hh CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) ii)
       |SELECT window_start, CAST(i AS INTEGER) AS row_idx, pos AS col_idx,
       |  count(*)::BIGINT AS cnt
       |FROM p GROUP BY 1, 2, 3""".stripMargin

  /** CTE chain `tot..i` of the integer-exact per-(doc, term) BM25
    * components over relation `from` (q258/q259/q260): floor-log2
    * Robertson idf via bin-length + shift compare; tf/dl/N/T carried
    * forward for the 10T-scaled saturation quotient. */
  private def bm25TermCtes(terms: Seq[String], idCol: String,
      from: String): String = {
    val inList = terms.map(t => s"'${sqlLit(t)}'").mkString(", ")
    s"""tot AS (SELECT count(*)::BIGINT AS N,
       |    CAST(sum(len($toks)) AS BIGINT) AS T FROM $from),
       |base AS (SELECT $idCol, CAST(len($toks) AS BIGINT) AS dl,
       |           unnest($toks) AS t
       |         FROM $from),
       |m AS (SELECT $idCol, dl, t, count(*)::BIGINT AS tf FROM base
       |      WHERE t IN ($inList) GROUP BY 1, 2, 3),
       |dfr AS (SELECT t, count(*)::BIGINT AS df FROM m GROUP BY 1),
       |s AS (SELECT m.$idCol, m.t AS tok, m.dl, m.tf, tot.N, tot.T,
       |        2 * (tot.N - dfr.df) + 1 AS num, 2 * dfr.df + 1 AS den
       |      FROM m JOIN dfr USING (t), tot),
       |f AS (SELECT *, CAST(length(bin(num)) - length(bin(den)) AS BIGINT)
       |        AS L
       |      FROM s WHERE num > den),
       |i AS (SELECT *, CASE WHEN (den << L) <= num THEN L ELSE L - 1 END
       |        AS idf
       |      FROM f)""".stripMargin
  }

  /** The q258/q259 per-doc fold `sc` on top of [[bm25TermCtes]]. */
  private def bm25Scores(terms: Seq[String], idCol: String): String =
    s"""WITH ${bm25TermCtes(terms, idCol, "documents")},
       |sc AS (SELECT $idCol, count(*)::BIGINT AS n_terms,
       |    CAST(sum(idf * ((22 * T * tf * 1000000)
       |      // (10 * T * tf + 3 * T + 9 * dl * N))) AS BIGINT)
       |      AS score_micro
       |  FROM i GROUP BY 1)""".stripMargin

  /** Mirror of TextAnalysis.bm25TopK (q258). */
  def bm25TopK(terms: Seq[String], k: Int, idCol: String): String =
    s"""${bm25Scores(terms, idCol)}
       |SELECT $idCol, n_terms, score_micro FROM sc
       |ORDER BY score_micro DESC, $idCol ASC LIMIT $k""".stripMargin

  /** Mirror of TextAnalysis.bm25Decontaminate (q259). */
  def bm25Decontaminate(terms: Seq[String], minScoreMicro: Long,
      idCol: String): String =
    s"""${bm25Scores(terms, idCol)}
       |SELECT $idCol, n_terms, score_micro,
       |  score_micro >= $minScoreMicro AS contaminated
       |FROM sc""".stripMargin

  /** Mirror of the q260 composition: TextAnalysis.bm25TopKBatch over
    * documents with the two needle terms injected (doc_id % 37 →
    * " needle alpha", else doc_id % 41 → " needle"). Term statistics
    * come from ONE corpus pass over the union of all query terms;
    * per-query top-k by (score desc, id asc). */
  def bm25TopKBatch(queryTerms: Seq[(Long, String)], k: Int,
      idCol: String): String = {
    val values = queryTerms
      .map { case (qid, t) => s"(CAST($qid AS BIGINT), '${sqlLit(t)}')" }
      .mkString(", ")
    val distinctTerms = queryTerms.map(_._2).distinct.sorted
    s"""WITH injected AS (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 37 = 0 THEN text || ' needle alpha'
       |           WHEN doc_id % 41 = 0 THEN text || ' needle'
       |           ELSE text END AS text
       |    FROM documents),
       |q(query_id, term) AS (VALUES $values),
       |${bm25TermCtes(distinctTerms, idCol, "injected")},
       |j AS (SELECT q.query_id, i.$idCol,
       |        idf * ((22 * T * tf * 1000000)
       |          // (10 * T * tf + 3 * T + 9 * dl * N)) AS ts
       |      FROM i JOIN q ON i.tok = q.term),
       |sc AS (SELECT query_id, $idCol, count(*)::BIGINT AS n_terms,
       |        CAST(sum(ts) AS BIGINT) AS score_micro
       |       FROM j GROUP BY 1, 2)
       |SELECT query_id, $idCol, n_terms, score_micro,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, $idCol ASC) AS rank
       |FROM sc QUALIFY rank <= $k""".stripMargin
  }

  /** Mirror of StreamingOps.enrich's batch twin (q273): the lookup
    * operator's E1 left-outer broadcast join from events.user_id to
    * customer.c_custkey with the E5 projection (input columns in order,
    * enrichment value last under the E4/outputField alias). */
  def streamEnrich: String =
    s"""SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
       |  e.props, c.c_mktsegment AS segment
       |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  /** Mirror of StreamingOps.windowedManifest's batch twin over events
    * (q257): per (hour window, id-bucket shard), row count and bit-XOR
    * checksum of the 60-bit props hash. */
  def windowedManifest(nShards: Int): String =
    s"""WITH e AS (SELECT date_trunc('hour', ts) AS window_start,
       |    (${sampleBucket("event_id")}) % $nShards AS shard_id,
       |    ${h60("props")} AS h
       |  FROM events)
       |SELECT window_start, shard_id, count(*)::BIGINT AS n_rows,
       |  bit_xor(h) AS checksum
       |FROM e GROUP BY 1, 2""".stripMargin
}
