package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-integer PCA engine shared by `ann_pca_project` and its spec.
  *
  * Contract (mirrored CTE-for-CTE by the DuckDB oracle, so every step
  * must be integer-exact and engine-independent):
  *  - input is a frame of SHIFTED non-negative integer component arrays
  *    (`qs`), so every integer division below has non-negative operands
  *    (floor ≡ truncate across engines); covariance is shift-invariant,
  *    so the shift changes nothing mathematically;
  *  - the DISTRIBUTED stage accumulates the d(d+1)/2 upper-triangle
  *    second-moment sums with a map-side pair-explode + one hash-agg
  *    (no join; sufficient-sums scaling keeps every sum under 2⁶³ at
  *    10¹⁰ rows), plus the d first-moment sums;
  *  - the DRIVER stage (a constant-size d²-row pull, the k-means
  *    centroid class) assembles m[i][j] = sxy div n − mu_i·mu_j and
  *    runs `iters` integer power-iteration rounds, rescaling by
  *    max|w| div 10⁶ with sign-safe division each round, then fixes
  *    the global sign by the largest-|component| (min-index tiebreak).
  */
object Pca {

  /** The shifted component frame: qv (centi-quantized, possibly
    * negative) → qs = qv + shift ≥ 0. */
  def shifted(base: DataFrame, shift: Long = 100L): DataFrame =
    base.select(col("vec_id"),
      expr(s"transform(qv, x -> x + ${shift}L)").as("qs"))

  /** Sign-safe truncating division (both operands' signs handled the
    * way DuckDB's `CASE WHEN x < 0 THEN -((-x) // d) ...` does, so the
    * oracle can mirror it with non-negative-operand divisions only). */
  private def sdiv(x: Long, d: Long): Long = if (x < 0) -((-x) / d) else x / d

  /** Distributed sufficient sums → driver integer power iteration →
    * the dominant-axis integer vector (|components| ≈ 10⁶ scale).
    *
    * ONE distributed pass over RAW sums (n, Σx_i, Σx_i·x_j via
    * CovSumsAgg), then EXACT centering on the driver through the
    * identity Σ(x−mu_i)(x−mu_j) = sxy − mu_i·sx_j − mu_j·sx_i +
    * n·mu_i·mu_j with integer means mu_i = sx_i div n. This is
    * mathematically exact — every term is an integer and the identity
    * holds for ANY mu, including the floored one — unlike the
    * superficially similar rounded form m = sxy div n − mu_i·mu_j,
    * where each pre-divided term carries its own floor error that
    * smears ±mu across the matrix (the planted-direction spec catches
    * that). The single final div n leaves < 1 unit of error against
    * entries of magnitude var, and centered sums stay under 2⁶³ at
    * 10¹⁰ rows because the identity is applied to shifted non-negative
    * components of bounded magnitude.
    */
  def dominantAxis(sq: DataFrame, dim: Int, iters: Int = 20): Array[Long] = {
    // ONE pass: the mergeable CovSumsAgg accumulates n, first moments,
    // and the raw upper-triangle second moments into a single
    // per-partition buffer (the pair-EXPLODE formulation shipped
    // d(d+1)/2 struct rows per input row — measured 93 s vs ~3 s at
    // x64; BASELINE.md, "scale curve, exact-integer PCA"). Exact
    // centering then applies the identity Σ(x−mu_i)(x−mu_j) =
    // sxy − mu_i·sx_j − mu_j·sx_i + n·mu_i·mu_j on the driver — the
    // same algebra StreamingVectorDrift maintains incrementally, so
    // batch and streamed axes stay bit-equal.
    val cov = udaf(new graft.functions.CovSumsAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val s = sq.agg(cov(col("qs")).as("s")).collect()(0).getSeq[Long](0)
    val n = s(0)
    require(n > 0, s"dominantAxis: empty input frame (n=$n) — no axis exists")
    val sx = Array.tabulate(dim)(i => s(1 + i))
    val mu = sx.map(_ / n) // non-negative: floor ≡ trunc
    val m = Array.ofDim[Long](dim, dim)
    var p = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val centered = s(p) - mu(i) * sx(j) - mu(j) * sx(i) + n * mu(i) * mu(j)
      val c = sdiv(centered, n)
      m(i)(j) = c; m(j)(i) = c
      p += 1
    }
    var v = Array.fill(dim)(1000000L)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val sden = math.max(w.map(math.abs).max / 1000000L, 1L)
      v = w.map(sdiv(_, sden))
    }
    val lead = (0 until dim).minBy(i => (-math.abs(v(i)), i))
    if (v(lead) < 0) v = v.map(-_)
    v
  }

  /** Exact-integer projection column ⟨qv, axis⟩. */
  def projection(axis: Array[Long]): Column =
    aggregate(zip_with(col("qv"), array(axis.map(lit(_)): _*),
      (x, y) => x * y), lit(0L), (acc, e) => acc + e)
}
