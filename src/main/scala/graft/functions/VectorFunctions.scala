package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Dense-vector math over `array<float>` embedding columns, as pure Catalyst
 * expression trees (no UDFs — everything stays inside whole-stage codegen).
 *
 * Determinism contract: all reductions are *left-associated* chains in
 * double precision, e.g. `((t1+t2)+t3)+…`, which is exactly how a SQL
 * engine parses `t1+t2+t3+…`. The DuckDB oracle mirrors the same operand
 * order, so scores match bit-for-bit — no epsilon comparisons needed.
 *
 * The unrolled form (dim is a compile-time constant per call site) beats a
 * higher-order `aggregate(zip_with(...))` fold: it codegens to straight-line
 * arithmetic instead of an interpreted lambda loop.
 */
object VectorFunctions {

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Dot product in double precision, ascending-index accumulation (==
    * the left-associated chain the SQL oracle evaluates). Native codegen'd
    * expression; `dim` is the declared width (the kernel loops the actual
    * array length — all corpus vectors match it). */
  def dot(a: Column, b: Column, dim: Int): Column =
    native(catalyst.DotProductF32(expr(a), expr(b)))

  /** Squared L2 norm: [[dot]] of a vector with itself. */
  def norm2(a: Column, dim: Int): Column = dot(a, a, dim)

  /** Cosine similarity: dot(a,b) / (sqrt(|a|²) * sqrt(|b|²)). */
  def cosine(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (sqrt(norm2(a, dim)) * sqrt(norm2(b, dim)))

  /** Cosine from a precomputed squared-norm pair (for joins that project
    * norms once per row instead of once per pair). Same arithmetic shape:
    * dot / (sqrt(na2) * sqrt(nb2)). */
  def cosineWithNorms(dotCol: Column, na2: Column, nb2: Column): Column =
    dotCol / (sqrt(na2) * sqrt(nb2))

  /** Deterministic pseudo-random hyperplane weight for LSH: plane `j`,
    * component `i` → an integer in [-2^31, 2^31) via a Knuth mix of the
    * flattened index. Public/fixed so any engine can replay the planes. */
  def planeWeight(j: Int, i: Int, dim: Int): Long =
    ((j.toLong * dim + i) * TextFunctions.Mix) % TextFunctions.TwoPow32 - (1L << 31)

  /** Sign-random-projection LSH bucket id over `nPlanes` hyperplanes:
    * bit j is set iff dot(plane_j, v) > 0. Native codegen'd expression;
    * the unrolled formulation is the test-scope parity twin
    * `HofTwins.lshBucketHof`. */
  def lshBucket(v: Column, dim: Int, nPlanes: Int): Column =
    native(catalyst.SrpBucketF32(expr(v), dim, nPlanes))

  /** Argmin-L2 code against a literal codebook over the slice starting at
    * 0-based `base` (`codebook`: one `dsub`-wide slice per code, in code
    * order). Ties go to the lowest code. Native codegen'd expression —
    * serves both the PQ subspace encode and the coarse IVF cell assign. */
  def pqCode(v: Column, codebook: Seq[Seq[Double]], base: Int,
      dsub: Int): Column = {
    require(codebook.forall(_.length == dsub),
      s"every codebook slice must have dsub=$dsub components")
    native(catalyst.PqCodeF32(expr(v), codebook.flatten.toVector, base, dsub))
  }

  /** Squared L2 distance between the slice of `v` starting at 0-based
    * `base` and a literal target vector. Native codegen'd expression. */
  def l2ToLit(v: Column, target: Seq[Double], base: Int): Column =
    native(catalyst.L2ToLitF32(expr(v), target.toVector, base))
}
