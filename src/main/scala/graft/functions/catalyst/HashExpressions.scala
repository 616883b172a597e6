package graft.functions.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions.{HashBase, HashPrime, Mix, Mix2, TwoPow32}

/**
 * Native Catalyst expressions for the hash hot paths. The composable
 * higher-order-function formulations in TextFunctions are semantically
 * identical but interpreted per element (Spark HOFs don't participate in
 * codegen); on the near-dup operators that lambda overhead dominates. These
 * expressions generate tight Java loops inside whole-stage codegen —
 * the preferred Spark extension order: native Expression with doGenCode >
 * Scala UDF (SURVEY.md §2.4).
 *
 * Hashing is byte-level over UTF-8; for the ASCII corpora this engine
 * targets it is identical to the char-level `ascii()` fold the SQL oracle
 * replays (and to Multimodal.StubCodec's byte checksum).
 */

/** Base-31 rolling hash mod 1e9+7 over a string's UTF-8 bytes. */
case class RollingHashBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  protected override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < b.length) { h = (h * HashBase + (b(i) & 0xff)) % HashPrime; i += 1 }
    h
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $b = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = ($h * ${HashBase}L + ($b[$i] & 0xff)) % ${HashPrime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHashBytes =
    copy(child = newChild)
}

/** 32-bit term-frequency SimHash over an array of token strings: per token
  * mix the rolling hash to 32 bits, accumulate ±1 per bit, emit the sign
  * vector as a long. Matches the TextFunctions.simhash fold exactly. */
case class SimHash32(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Long](32)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val b = arr.getUTF8String(j).getBytes
        var h = 0L
        var i = 0
        while (i < b.length) { h = (h * HashBase + (b(i) & 0xff)) % HashPrime; i += 1 }
        val m = (h * Mix) % TwoPow32
        var k = 0
        while (k < 32) { cnt(k) += ((m >> k) & 1L) * 2 - 1; k += 1 }
      }
      j += 1
    }
    var out = 0L
    var k = 0
    while (k < 32) { if (cnt(k) > 0) out |= 1L << k; k += 1 }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val j = ctx.freshName("j")
      val b = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      s"""
         |long[] $cnt = new long[32];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if (!$c.isNullAt($j)) {
         |    byte[] $b = $c.getUTF8String($j).getBytes();
         |    long $h = 0L;
         |    for (int $i = 0; $i < $b.length; $i++) {
         |      $h = ($h * ${HashBase}L + ($b[$i] & 0xff)) % ${HashPrime}L;
         |    }
         |    long $m = ($h * ${Mix}L) % ${TwoPow32}L;
         |    for (int $k = 0; $k < 32; $k++) { $cnt[$k] += (($m >> $k) & 1L) * 2 - 1; }
         |  }
         |}
         |long $out = 0L;
         |for (int $k = 0; $k < 32; $k++) { if ($cnt[$k] > 0) $out |= 1L << $k; }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** 64-bit term-frequency SimHash: the scale face of [[SimHash32]]. Two
  * independent 32-bit multiplicative mixes of the SAME per-token rolling
  * hash fill the low (Mix — identical to SimHash32, so `sh64 & 0xFFFFFFFF
  * == sh32`, spec-pinned) and high (Mix2) halves. 32 bits stop separating
  * corpora past ~10⁵ docs — random pairs land within Hamming ≤ 3 at rate
  * C(32,≤3)/2³² ≈ 1.3e-6, so a 500 K-doc corpus carries ~160 K FALSE
  * near-dup pairs and the pigeonhole blocks run out of entropy (the
  * round-9 100× probe's 230 M-candidate wall); at 64 bits the same rate
  * is C(64,≤3)/2⁶⁴ ≈ 2e-15 — negligible at any corpus size, and the
  * 16-bit blocks keep candidates ~linear. Both mix products stay under
  * 2⁶³ (h < 1e9+7, mixer < 2³²), so the DuckDB oracle replays the fold
  * in plain BIGINT arithmetic as two 32-bit halves. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Long](64)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val b = arr.getUTF8String(j).getBytes
        var h = 0L
        var i = 0
        while (i < b.length) { h = (h * HashBase + (b(i) & 0xff)) % HashPrime; i += 1 }
        val lo = (h * Mix) % TwoPow32
        val hi = (h * Mix2) % TwoPow32
        var k = 0
        while (k < 32) {
          cnt(k) += ((lo >> k) & 1L) * 2 - 1
          cnt(k + 32) += ((hi >> k) & 1L) * 2 - 1
          k += 1
        }
      }
      j += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) { if (cnt(k) > 0) out |= 1L << k; k += 1 }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val j = ctx.freshName("j")
      val b = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      s"""
         |long[] $cnt = new long[64];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if (!$c.isNullAt($j)) {
         |    byte[] $b = $c.getUTF8String($j).getBytes();
         |    long $h = 0L;
         |    for (int $i = 0; $i < $b.length; $i++) {
         |      $h = ($h * ${HashBase}L + ($b[$i] & 0xff)) % ${HashPrime}L;
         |    }
         |    long $lo = ($h * ${Mix}L) % ${TwoPow32}L;
         |    long $hi = ($h * ${Mix2}L) % ${TwoPow32}L;
         |    for (int $k = 0; $k < 32; $k++) {
         |      $cnt[$k] += (($lo >> $k) & 1L) * 2 - 1;
         |      $cnt[$k + 32] += (($hi >> $k) & 1L) * 2 - 1;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $k = 0; $k < 64; $k++) { if ($cnt[$k] > 0) $out |= 1L << $k; }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** The word-shingle scans of [[ShingleHashes]], [[ShingleHashesAll]] and
  * [[HasShingles]]. Tokens are the byte ranges between single spaces
  * (0x20), empty ones included, so a text with `s` space bytes holds
  * `s + 1` tokens and, when `s + 1 >= n`, `s + 2 - n` shingles of `n`
  * tokens; with fewer tokens it has none. */
private[catalyst] object Shingles {
  private val Space = ' '.toByte

  /** The rolling hash of every `n`-token shingle of `b`, in position order.
    * With single-space separators a shingle's joined string
    * (`tok_i ⌴ … ⌴ tok_{i+n-1}`) is exactly a contiguous byte range of the
    * text, so each hash folds over a byte slice, with no per-shingle
    * string. */
  def hashes(b: Array[Byte], n: Int): Array[Long] = {
    var m = 1
    var i = 0
    while (i < b.length) { if (b(i) == Space) m += 1; i += 1 }
    if (m < n) return Array.emptyLongArray
    // token start offsets: position 0 and one past each space
    val starts = new Array[Int](m)
    var t = 1
    i = 0
    while (i < b.length) { if (b(i) == Space) { starts(t) = i + 1; t += 1 }; i += 1 }
    val out = new Array[Long](m - n + 1)
    var w = 0
    while (w < out.length) {
      val until = if (w + n < m) starts(w + n) - 1 else b.length // exclusive; -1 drops the separator
      var h = 0L
      var j = starts(w)
      while (j < until) { h = (h * HashBase + (b(j) & 0xff)) % HashPrime; j += 1 }
      out(w) = h
      w += 1
    }
    out
  }

  /** The distinct values of `hs` in first-occurrence order, through an
    * open-addressing set of primitive longs (linear probing, load at most
    * 1/2). Rolling hashes lie in `[0, HashPrime)`, so -1 marks a free
    * slot. */
  def distinct(hs: Array[Long]): Array[Long] = {
    var cap = 2
    while (cap < 2 * hs.length) cap <<= 1
    val mask = cap - 1
    val slots = new Array[Long](cap)
    java.util.Arrays.fill(slots, -1L)
    val out = new Array[Long](hs.length)
    var k = 0
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var s = ((h * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (slots(s) != -1L && slots(s) != h) s = (s + 1) & mask
      if (slots(s) == -1L) { slots(s) = h; out(k) = h; k += 1 }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }
}

/** Distinct word-n-gram shingle hashes of a text column in one pass
  * ([[Shingles.hashes]], deduplicated by [[Shingles.distinct]]). Matches
  * `array_distinct(transform(shingles(tokens(text), n), rollingHash))`
  * (first-occurrence order) byte for byte.
  *
  * CodegenFallback: the per-byte loop dominates; one virtual eval call per
  * row is noise, and the surrounding stage stays whole-stage-codegen'd. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  protected override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    Shingles.distinct(Shingles.hashes(input.asInstanceOf[UTF8String].getBytes, n)))

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Whether a text has at least one word-n-gram shingle, that is at least
  * `n` tokens: exactly `size(graft_shingle_hashes(text, n)) > 0`, and null
  * for a null text. It scans for the space byte and stops at the
  * `n - 1`-th. The emptiness filter of the shingle-set operators: a filter
  * on `size(hs)` over a projected `hs = graft_shingle_hashes(text, n)` is
  * pushed below the projection with the alias substituted, so the plan
  * would shingle every document twice. */
case class HasShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_has_shingles"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    var need = n - 1
    var i = 0
    while (need > 0 && i < s.numBytes) { if (s.getByte(i) == ' '.toByte) need -= 1; i += 1 }
    need == 0
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val need = ctx.freshName("need")
      val i = ctx.freshName("i")
      s"""
         |int $need = ${n - 1};
         |for (int $i = 0; $need > 0 && $i < $c.numBytes(); $i++) {
         |  if ($c.getByte($i) == 32) $need--;
         |}
         |${ev.value} = $need == 0;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HasShingles =
    copy(child = newChild)
}

/** ALL word-n-gram shingle hashes of a text column in one pass — the
  * multiset twin of [[ShingleHashes]] (duplicates kept, position order),
  * for term-frequency-weighted operators: `explode` + `groupBy(id, h)`
  * recovers per-document shingle term frequencies relationally. Matches
  * `transform(shingles(tokens(text), n), rollingHash)` byte for byte.
  *
  * CodegenFallback for the same reason as [[ShingleHashes]]: the
  * per-byte loop dominates; the surrounding stage stays codegen'd. */
case class ShingleHashesAll(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes_all"

  protected override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    Shingles.hashes(input.asInstanceOf[UTF8String].getBytes, n))

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesAll =
    copy(child = newChild)
}

/** Maximum term frequency over the single-space-separated tokens of a
  * text — the core of Gopher-style repetition scoring (a doc whose most
  * frequent token dominates is boilerplate/spam-shaped). One pass, one
  * hash map per row, no shuffle; tokens are compared as byte slices of
  * the original string (no per-token string copies beyond the map keys).
  *
  * CodegenFallback for the same reason as [[ShingleHashes]]: the per-row
  * loop dominates and the surrounding stage stays whole-stage-codegen'd. */
case class TokenModeCount(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_token_mode_count"

  private val Space = UTF8String.fromString(" ")

  protected override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(Space, -1)
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var best = 0
    var i = 0
    while (i < toks.length) {
      var c = counts.get(toks(i))
      if (c == null) { c = new Array[Int](1); counts.put(toks(i), c) }
      c(0) += 1
      if (c(0) > best) best = c(0)
      i += 1
    }
    best.toLong
  }

  override protected def withNewChildInternal(newChild: Expression): TokenModeCount =
    copy(child = newChild)
}

/** Whole-token marker counts for SEVERAL marker lists in one tokenization
  * pass: returns `array<int>` with one count per input list. Replaces one
  * `regexp_extract_all` pass PER LIST (the language-ID hot path runs four
  * lists plus a script check per row) with a single split + hash-map probe
  * per token. Token-equality semantics on single-space-separated text —
  * identical to the regex formulation the SQL oracle replays (whole-token
  * match, adjacent markers all counted).
  *
  * Full `doGenCode` (not CodegenFallback): the language-ID projection is
  * plan-contract-pinned to stay inside whole-stage codegen, and a
  * fallback expression would de-star the stage. The marker map rides the
  * generated code as a reference object. */
case class MarkerCounts(child: Expression, markerLists: Seq[Seq[String]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_marker_counts"

  @transient private lazy val lookup: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    markerLists.zipWithIndex.foreach { case (ws, i) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val cur = m.get(k)
        m.put(k, if (cur == null) Array(i) else cur :+ i)
      }
    }
    m
  }
  private val Space = UTF8String.fromString(" ")

  protected override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(Space, -1)
    val counts = new Array[Int](markerLists.size)
    var i = 0
    while (i < toks.length) {
      val hit = lookup.get(toks(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      val mapRef = ctx.addReferenceObj("markerMap", lookup, "java.util.HashMap")
      val spaceRef = ctx.addReferenceObj("space", Space, utf8)
      val toks = ctx.freshName("toks")
      val counts = ctx.freshName("counts")
      val hit = ctx.freshName("hit")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |$utf8[] $toks = $c.split($spaceRef, -1);
         |int[] $counts = new int[${markerLists.size}];
         |for (int $i = 0; $i < $toks.length; $i++) {
         |  int[] $hit = (int[]) $mapRef.get($toks[$i]);
         |  if ($hit != null) {
         |    for (int $j = 0; $j < $hit.length; $j++) { $counts[$hit[$j]]++; }
         |  }
         |}
         |${ev.value} = new $gad($counts);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
    copy(child = newChild)
}

/** One-pass feature-hash summary of a text's tokens: `[nnz, l1, checksum]`
  * of the d-dimensional hashing-trick count vector (dimension =
  * `mix32(rollingHash(token)) mod d`, checksum = `Σ count_dim·31^dim mod p`).
  * Semantically identical to the relational explode → count → agg
  * formulation (`TextAnalysis.featureHashAgg`, the parity twin the spec
  * pins), but per-row and shuffle-free: at 100 TB the document vectorizer
  * becomes a pure narrow projection pushed against the scan.
  *
  * Full `doGenCode`: one local `long[d]` per row, the same byte-level
  * rolling hash as [[RollingHashBytes]]; the power table rides the
  * generated code as a reference object. */
case class FeatureHashSummary(child: Expression, d: Int)
    extends UnaryExpression {
  require(d >= 1, s"d=$d must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_feature_hash_summary"

  @transient private lazy val pow31: Array[Long] = {
    val a = new Array[Long](d)
    a(0) = 1L
    var i = 1
    while (i < d) { a(i) = a(i - 1) * 31 % HashPrime; i += 1 }
    a
  }
  private val Space = UTF8String.fromString(" ")

  protected override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(Space, -1)
    val counts = new Array[Long](d)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes
      var h = 0L
      var j = 0
      while (j < b.length) { h = (h * HashBase + (b(j) & 0xff)) % HashPrime; j += 1 }
      counts(((h * Mix) % TwoPow32 % d).toInt) += 1
      i += 1
    }
    var nnz = 0L
    var l1 = 0L
    var ck = 0L
    var k = 0
    while (k < d) {
      if (counts(k) > 0) {
        nnz += 1
        l1 += counts(k)
        ck = (ck + counts(k) % HashPrime * pow31(k) % HashPrime) % HashPrime
      }
      k += 1
    }
    new GenericArrayData(Array(nnz, l1, ck))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      val powRef = ctx.addReferenceObj("pow31", pow31, "long[]")
      val spaceRef = ctx.addReferenceObj("space", Space, utf8)
      val toks = ctx.freshName("toks")
      val counts = ctx.freshName("counts")
      val b = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val nnz = ctx.freshName("nnz")
      val l1 = ctx.freshName("l1")
      val ck = ctx.freshName("ck")
      val out = ctx.freshName("out")
      s"""
         |$utf8[] $toks = $c.split($spaceRef, -1);
         |long[] $counts = new long[$d];
         |for (int $i = 0; $i < $toks.length; $i++) {
         |  byte[] $b = $toks[$i].getBytes();
         |  long $h = 0L;
         |  for (int $j = 0; $j < $b.length; $j++) {
         |    $h = ($h * ${HashBase}L + ($b[$j] & 0xff)) % ${HashPrime}L;
         |  }
         |  $counts[(int) (($h * ${Mix}L) % ${TwoPow32}L % $d)] += 1L;
         |}
         |long $nnz = 0L; long $l1 = 0L; long $ck = 0L;
         |for (int $k = 0; $k < $d; $k++) {
         |  if ($counts[$k] > 0) {
         |    $nnz += 1L;
         |    $l1 += $counts[$k];
         |    $ck = ($ck + $counts[$k] % ${HashPrime}L * $powRef[$k] % ${HashPrime}L) % ${HashPrime}L;
         |  }
         |}
         |long[] $out = new long[]{$nnz, $l1, $ck};
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FeatureHashSummary =
    copy(child = newChild)
}

/** MinHash signature: sig_i = min over hashes h of ((2i+1)*h + 7919i + 1)
  * mod p, i in [0, k). Null (empty-set) semantics follow the HOF version:
  * empty input yields a null signature — callers filter empty shingle sets.
  * Matches TextFunctions.minhashSignature exactly. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = arr.getLong(j)
        val v = ((2L * i + 1) * h + 7919L * i + 1) % HashPrime
        if (v < best) best = v
        j += 1
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      val v = ctx.freshName("v")
      val h = ctx.freshName("h")
      val gad = classOf[GenericArrayData].getName
      s"""
         |if ($c.numElements() == 0) {
         |  ${ev.value} = new $gad(new Object[$k]);
         |} else {
         |  long[] $sig = new long[$k];
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $best = Long.MAX_VALUE;
         |    for (int $j = 0; $j < $c.numElements(); $j++) {
         |      long $h = $c.getLong($j);
         |      long $v = ((2L * $i + 1) * $h + 7919L * $i + 1) % ${HashPrime}L;
         |      if ($v < $best) $best = $v;
         |    }
         |    $sig[$i] = $best;
         |  }
         |  ${ev.value} = new $gad($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/**
 * All length-3 CHARACTER substrings of a string in ONE forward pass —
 * the codegen replacement for
 * `transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))`
 * (r16 opt, guide §4): `substring(s, i, 3)` on a UTF8String walks the
 * bytes from position 0 to find char offset i (UTF-8 chars are
 * variable-width), so the transform is O(len²) PER DOCUMENT — measured
 * as the dominant CPU of the language-profile train/infer stages
 * (22.6 s task time at sf0.1). This walks the char boundaries once,
 * then slices each trigram by byte offset: O(len), byte-identical
 * output (char semantics, same values, same order).
 */
case class CharTrigrams(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_char_trigrams"

  protected override def nullSafeEval(input: Any): Any =
    CharTrigramOps.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.catalyst.CharTrigramOps.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): CharTrigrams =
    copy(child = newChild)
}

object CharTrigramOps {
  /** One-pass trigram slicer shared by eval and codegen (a standalone
    * object, not the case-class companion, so the generated Java calls a
    * plain static forwarder). */
  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // char start byte-offsets (one extra slot for the end sentinel)
    var starts = new Array[Int](math.min(nBytes, 64) + 1)
    var nChars = 0
    var off = 0
    while (off < nBytes) {
      if (nChars + 1 >= starts.length) {
        starts = java.util.Arrays.copyOf(starts, starts.length * 2)
      }
      starts(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    if (nChars < 3) return new GenericArrayData(new Array[AnyRef](0))
    starts(nChars) = nBytes
    val out = new Array[AnyRef](nChars - 2)
    var i = 0
    while (i < nChars - 2) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + 3) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * LSH band keys as FIXED-WIDTH binary: element b (b in [0, bands)) packs
 * the non-null values of `sig[b*r .. b*r+r-1]` as big-endian 4-byte words
 * (r17 opt, guide §2.3 "narrower types"): the previous band key was
 * `concat_ws("_", slice(sig, b*r+1, r))` — a ~40-byte decimal STRING per
 * band riding the shuffle of every LSH banding consumer. MinHash values
 * are mod 1e9+7 (< 2^30), so 4 bytes per value is injective and the key
 * shrinks to r*4 = 16 bytes at r=4.
 *
 * EXACT replacement, not probabilistic: both encodings are injective on
 * the sequence of non-null band values (concat_ws renders canonical
 * decimal joined by '_' and skips nulls; this packs fixed-width words and
 * skips nulls), so two band slices get equal keys under one encoding iff
 * they do under the other — the candidate sets, and every count derived
 * from them, are identical. Out-of-32-bit values (impossible for MinHash
 * signatures) throw rather than silently truncate.
 */
case class BandKeyBytes(child: Expression, r: Int, bands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_band_key_bytes"

  protected override def nullSafeEval(input: Any): Any =
    BandKeyOps.compute(input.asInstanceOf[ArrayData], r, bands)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.catalyst.BandKeyOps.compute($c, $r, $bands);")

  override protected def withNewChildInternal(newChild: Expression): BandKeyBytes =
    copy(child = newChild)
}

object BandKeyOps {
  /** Shared by eval and codegen (CharTrigramOps pattern: a plain static
    * forwarder the generated Java can call). */
  def compute(arr: ArrayData, r: Int, bands: Int): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val buf = new Array[Byte](4 * r)
      var m = 0
      var j = b * r
      val end = math.min(j + r, n)
      while (j < end) {
        if (!arr.isNullAt(j)) {
          val v = arr.getLong(j)
          if (v < 0L || v > 0xFFFFFFFFL) {
            throw new IllegalStateException(
              s"band value out of 32-bit range: $v (BandKeyBytes packs 4-byte words)")
          }
          val x = v.toInt
          buf(m) = (x >>> 24).toByte
          buf(m + 1) = (x >>> 16).toByte
          buf(m + 2) = (x >>> 8).toByte
          buf(m + 3) = x.toByte
          m += 4
        }
        j += 1
      }
      out(b) = if (m == buf.length) buf else java.util.Arrays.copyOf(buf, m)
      b += 1
    }
    new GenericArrayData(out)
  }
}
