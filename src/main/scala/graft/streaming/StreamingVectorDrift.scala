package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Maintained embedding-drift monitor — the streaming face of
  * `ann_pca_project` (as StreamingMetrics is of `ml_auc_rank`): the
  * covariance of an embedding stream is maintained as MERGEABLE raw
  * sufficient sums, and the dominant principal axis recomputes from the
  * bounded state in constant work. A drifting upstream encoder (or a
  * poisoned source) shows up as the current axis rotating away from a
  * frozen baseline — the alarm a training-data pipeline wants BEFORE a
  * bad corpus ships, and the reason the state must be maintainable
  * per micro-batch rather than recomputed over the corpus.
  *
  * The load-bearing identity: with integer means mu_i = sx_i div n,
  *   Σ (x_i − mu_i)(x_j − mu_j)
  *     = sxy_ij − mu_i·sx_j − mu_j·sx_i + n·mu_i·mu_j      (exact),
  * so the RAW additive sums (n, sx_i, sxy_ij over the SHIFTED
  * components) reproduce [[graft.analytics.Pca]]'s two-pass-centered
  * matrix BIT-EXACTLY — streamed axis ≡ batch axis, asserted in
  * StreamingMetricsSpec, not just approximately aligned. State is one
  * (i, j, v) frame of d(d+1)/2 + d + 1 rows (j = −1 marks first
  * moments, i = j = −1 the count): merge = union + one hash-agg, so
  * per-batch cost is O(|batch|·d² map-side + |state|), independent of
  * corpus size. Versioning is [[VersionedState]]'s (v{batchId} derived
  * from state < batchId + the batch — idempotent under crash-replay,
  * committed by parquet's atomic _SUCCESS).
  */
object StreamingVectorDrift {

  /** Raw additive sufficient sums of one slice of SHIFTED component
    * arrays (`qs`, non-negative — [[graft.analytics.Pca.shifted]]).
    * Accumulated by the mergeable [[graft.functions.CovSumsAgg]] (one
    * in-place buffer per partition — per-batch cost O(|batch| + state),
    * where the earlier pair-explode shuffled d(d+1)/2 structs PER ROW:
    * a backfill-sized batch pays the difference), then unpacked into
    * the (i, j, v) state rows the maintained-merge hash-agg expects.
    */
  def sumsOf(sq: DataFrame, dim: Int): DataFrame = {
    val cov = udaf(new graft.functions.CovSumsAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    // index layout mirrors the agg buffer: slot 0 = n → (−1, −1);
    // slots 1..d = first moments → (i, −1); then the upper triangle
    // row-major → (i, j). Unpack with one posexplode over ONE row.
    val pairs = (-1, -1) +: (0 until dim).map(i => (i, -1)) ++:
      (for (i <- 0 until dim; j <- i until dim) yield (i, j))
    val idx = pairs.map { case (i, j) => s"struct($i as i, $j as j)" }
      .mkString("array(", ", ", ")")
    sq.agg(cov(col("qs")).as("s"))
      .select(explode(expr(
        s"zip_with($idx, s, (ij, v) -> struct(ij.i as i, ij.j as j, v as v))"))
        .as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.v").as("v"))
  }

  /** Additive merge — associative and commutative. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("i", "j").agg(sum("v").as("v"))

  /** Dominant axis from maintained sums — the EXACT replay of
    * [[graft.analytics.Pca.dominantAxis]]'s driver stage via the
    * centering identity above (same matrix, same 20 integer rounds,
    * same sign fix). Constant driver work: the state is d(d+1)/2+d+1
    * rows at any corpus size.
    */
  def axisFromState(state: DataFrame, dim: Int, iters: Int = 20): Array[Long] = {
    def sdiv(x: Long, d: Long): Long = if (x < 0) -((-x) / d) else x / d
    val rows = state.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val n = rows((-1, -1))
    require(n > 0, s"axisFromState: no vectors folded yet (n=$n) — no axis exists")
    val sx = Array.tabulate(dim)(i => rows((i, -1)))
    val mu = sx.map(_ / n) // non-negative: floor ≡ trunc
    val m = Array.ofDim[Long](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val sxy = rows((i, j))
      val centered = sxy - mu(i) * sx(j) - mu(j) * sx(i) + n * mu(i) * mu(j)
      val c = sdiv(centered, n)
      m(i)(j) = c; m(j)(i) = c
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

  /** Signed squared cosine between two axes in ppm (BigInt on the
    * driver — d-length vectors, constant work; sqrt-free so the number
    * is integer-deterministic). 1 000 000 = identical direction,
    * 0 = orthogonal (full drift); the sign is the dot product's.
    */
  def alignmentPpm(a: Array[Long], b: Array[Long]): Long = {
    val dot = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val na = a.map(x => BigInt(x) * BigInt(x)).sum
    val nb = b.map(x => BigInt(x) * BigInt(x)).sum
    if (na == 0 || nb == 0) 0L
    else (dot.sign * (dot * dot * 1000000 / (na * nb))).toLong
  }

  /** The sums' versioned state ([[VersionedState]]). */
  private[graft] def state(stateDir: String): VersionedState =
    new VersionedState(stateDir, spark =>
      spark.range(0).select(col("id").cast("int").as("i"),
        col("id").cast("int").as("j"), col("id").as("v")))

  /** Fold one micro-batch of (vec_id, qs) rows into the sums. */
  private[graft] def foldBatch(dim: Int)(prev: DataFrame, batch: DataFrame): DataFrame =
    merge(prev, sumsOf(batch, dim))

  /** Latest committed sums (empty-schema frame when none). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    state(stateDir).latest(spark)

  /** Maintain the sums from a streaming frame of (vec_id, qs) shifted
    * component arrays. */
  def maintain(vectors: DataFrame, dim: Int, stateDir: String,
               checkpoint: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    state(stateDir).maintain(vectors, checkpoint, trigger)(foldBatch(dim))

  /** [[maintain]] with the alarm WIRED (r11, VERDICT r10 item 6): after
    * each micro-batch folds into the sums, the maintained axis is
    * recomputed from the bounded state (constant driver work) and
    * compared to the frozen `baseline`; when the squared-cosine
    * alignment falls below `thresholdPpm`, `onAlarm(alignmentPpm)`
    * fires ONCE per stream (an operator acks and re-arms by starting a
    * new monitor after acting — the standard alert latch). The intended
    * `onAlarm` is a quantizer retrain + re-encode
    * ([[graft.analytics.VectorIndexStore.retrain]]); the callback seam
    * keeps this module independent of the index implementation.
    */
  def maintainWithAlarm(vectors: DataFrame, dim: Int, stateDir: String,
                        checkpoint: String, baseline: Array[Long],
                        thresholdPpm: Long, onAlarm: Long => Unit,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sums = state(stateDir)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val align = alignmentPpm(
          axisFromState(sums.step(batch, id)(foldBatch(dim)), dim), baseline)
        if (align < thresholdPpm && fired.compareAndSet(false, true))
          onAlarm(align)
        ()
      }
      .trigger(trigger)
      .start()
  }
}
