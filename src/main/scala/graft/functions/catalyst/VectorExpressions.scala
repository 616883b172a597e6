package graft.functions.catalyst

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Native dot product over two `array<float>` columns in double precision.
 *
 * Determinism contract (shared with VectorFunctions and the SQL oracle):
 * accumulation is sequential in ascending index — identical to the
 * left-associated `t1+t2+…` chain the oracle evaluates — so scores are
 * bit-identical to the unrolled-expression formulation, just ~10× faster:
 * direct float-array access instead of per-element `element_at` bounds and
 * null checks, and no 64-node expression tree for codegen to chew on.
 */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f32"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductF32 = copy(left = newLeft, right = newRight)
}

/**
 * Sign-random-projection LSH bucket over an `array<float>` vector: bit j
 * of the result is set iff the dot product with deterministic public
 * hyperplane j is > 0 (planes from the Knuth-mix formula in
 * `VectorFunctions.planeWeight` — replayable by any engine). Semantically
 * identical to the unrolled test-scope `HofTwins.lshBucketHof` chain
 * (same ascending-index left-assoc accumulation), but one tight nested
 * loop instead of a dim×nPlanes expression tree — the 512-node tree was
 * the q19 hot spot.
 */
case class SrpBucketF32(child: Expression, dim: Int, nPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import graft.functions.TextFunctions.{Mix, TwoPow32}

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_srp_bucket"

  protected override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      var proj = 0.0
      var a = 0
      while (a < n) {
        val w = ((j.toLong * dim + (a + 1)) * Mix) % TwoPow32 - (1L << 31)
        proj += v.getFloat(a).toDouble * w.toDouble
        a += 1
      }
      if (proj > 0) bucket += 1L << j
      j += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val a = ctx.freshName("a")
      val w = ctx.freshName("w")
      val proj = ctx.freshName("proj")
      val bucket = ctx.freshName("bucket")
      s"""
         |int $n = Math.min($dim, $c.numElements());
         |long $bucket = 0L;
         |for (int $j = 0; $j < $nPlanes; $j++) {
         |  double $proj = 0.0;
         |  for (int $a = 0; $a < $n; $a++) {
         |    long $w = (((long) $j * $dim + ($a + 1)) * ${Mix}L) % ${TwoPow32}L - (1L << 31);
         |    $proj += (double) $c.getFloat($a) * (double) $w;
         |  }
         |  if ($proj > 0) $bucket += 1L << $j;
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SrpBucketF32 =
    copy(child = newChild)
}

/**
 * Argmin-L2 code assignment against a literal codebook over a subvector
 * slice: returns the index `c` in `[0, k)` minimizing
 * `Σᵢ (v[base+i] − codebook[c·dsub+i])²`, ties to the LOWEST code (strict
 * `<` keeps the first minimum — mirrors the oracle's
 * `ORDER BY dist ASC, code ASC` rank-1 pick).
 *
 * One expression serves both quantization layers of an IVF-PQ index
 * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
 * Search", TPAMI 2011): per-subspace PQ codes (base = j·dsub) and the
 * coarse cell assignment (base = 0, dsub = dim). The codebook rides the
 * plan as a reference object — no join, no shuffle, and a tight nested
 * loop instead of the k×dsub-node expression tree the unrolled twin
 * builds.
 *
 * Determinism contract: per-candidate distances accumulate sequentially
 * in ascending index (the left-assoc chain the SQL oracle evaluates), so
 * codes replay bit-identically. Vectors shorter than `base + dsub` skip
 * the missing components (same clamping philosophy as [[DotProductF32]];
 * the corpus contract is fixed-width vectors).
 */
case class PqCodeF32(child: Expression, codebook: Vector[Double],
    base: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(dsub >= 1 && codebook.nonEmpty && codebook.length % dsub == 0,
    s"codebook length ${codebook.length} must be a positive multiple of dsub=$dsub")
  private val k = codebook.length / dsub

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_pq_code"

  protected override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var best = Double.PositiveInfinity
    var bestC = 0
    var c = 0
    while (c < k) {
      var d = 0.0
      var i = 0
      while (i < dsub) {
        val idx = base + i
        if (idx < n) {
          val t = v.getFloat(idx).toDouble - codebook(c * dsub + i)
          d += t * t
        }
        i += 1
      }
      if (d < best) { best = d; bestC = c }
      c += 1
    }
    bestC
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook.toArray, "double[]")
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val t = ctx.freshName("t")
      s"""
         |int $n = $v.numElements();
         |double $best = Double.POSITIVE_INFINITY;
         |int $bestC = 0;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dsub; $i++) {
         |    int $idx = $base + $i;
         |    if ($idx < $n) {
         |      double $t = (double) $v.getFloat($idx) - $cb[$c * $dsub + $i];
         |      $d += $t * $t;
         |    }
         |  }
         |  if ($d < $best) { $best = $d; $bestC = $c; }
         |}
         |${ev.value} = $bestC;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqCodeF32 =
    copy(child = newChild)
}

/**
 * Squared L2 distance between a subvector slice and a literal target
 * (e.g. the query vector of an ANN search riding the plan as a
 * constant): `Σᵢ (v[base+i] − target[i])²`, sequential ascending-index
 * accumulation — the same left-assoc chain as the SQL oracle, so
 * distances replay bit-identically. Same short-vector clamping as
 * [[PqCodeF32]].
 */
case class L2ToLitF32(child: Expression, target: Vector[Double], base: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(target.nonEmpty, "target vector must be non-empty")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2_lit"

  protected override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < target.length) {
      val idx = base + i
      if (idx < n) {
        val t = v.getFloat(idx).toDouble - target(i)
        s += t * t
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val tg = ctx.addReferenceObj("l2Target", target.toArray, "double[]")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val t = ctx.freshName("t")
      s"""
         |int $n = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < ${target.length}; $i++) {
         |  int $idx = $base + $i;
         |  if ($idx < $n) {
         |    double $t = (double) $v.getFloat($idx) - $tg[$i];
         |    $s += $t * $t;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2ToLitF32 =
    copy(child = newChild)
}
