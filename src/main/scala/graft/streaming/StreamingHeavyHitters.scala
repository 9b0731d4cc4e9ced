package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Maintained heavy hitters over an unbounded item stream with BOUNDED
  * state — batched Misra–Gries (the mergeable generalization of the
  * classic one-at-a-time counter algorithm): per micro-batch, the
  * batch's exact counts fold into the state with one hash-agg; if the
  * merged table exceeds `cap` items, the (cap+1)-th largest count t is
  * subtracted from EVERY item and non-positive rows drop — at most cap
  * items can exceed t, so the state is ≤ cap rows again, and each
  * decrement round destroys ≥ t·(cap+1) counted mass, giving the
  * classic guarantee
  *
  *   true(x) − N/(cap+1)  ≤  est(x)  ≤  true(x)
  *
  * for every item after N stream rows (asserted against exact batch
  * counts in StreamingMetricsSpec, not just stated). Every x with
  * true(x) > N/(cap+1) is therefore still IN the state — no true heavy
  * hitter is ever evicted. This is the streaming face of
  * `agg_heavy_hitters` for corpora whose distinct-item cardinality
  * dwarfs memory: per-batch cost is O(|batch| + cap), state is cap
  * rows at any corpus size. Versioning is [[VersionedState]]'s
  * (v{batchId} derived from state < batchId + the batch — idempotent
  * under crash-replay, committed by parquet's _SUCCESS).
  */
object StreamingHeavyHitters {

  /** One Misra–Gries fold step: state ⊕ batch counts, decremented back
    * under `cap` rows if needed. The threshold pull is a one-scalar
    * driver action (control-plane class, like k-means' distortion).
    */
  def fold(state: DataFrame, batchCounts: DataFrame, cap: Int): DataFrame = {
    val merged = state.unionByName(batchCounts)
      .groupBy("item").agg(sum("cnt").as("cnt"))
    if (merged.count() <= cap) merged
    else {
      // t = the (cap+1)-th largest count VALUE (value-based, so ties
      // need no ordering tiebreak); strictly-greater survivors ≤ cap
      val t = merged.orderBy(col("cnt").desc).limit(cap + 1)
        .agg(min("cnt")).collect()(0).getLong(0)
      merged.select(col("item"), (col("cnt") - t).as("cnt"))
        .filter(col("cnt") > 0)
    }
  }

  /** Exact per-item counts of one slice. */
  def countsOf(items: DataFrame): DataFrame =
    items.groupBy("item").agg(count(lit(1)).as("cnt"))

  /** Top-k from maintained state, deterministically tie-broken. */
  def topK(state: DataFrame, k: Int): DataFrame =
    state.orderBy(col("cnt").desc, col("item")).limit(k)

  /** The Misra–Gries state's versions ([[VersionedState]]). */
  private[graft] def state(stateDir: String): VersionedState =
    new VersionedState(stateDir, spark =>
      spark.range(0).select(col("id").cast("string").as("item"),
        col("id").as("cnt")))

  /** Fold one micro-batch of `item` rows into the state. */
  private[graft] def foldBatch(cap: Int)(prev: DataFrame, batch: DataFrame): DataFrame =
    fold(prev, countsOf(batch), cap)

  /** Latest committed state (empty-schema frame when none). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    state(stateDir).latest(spark)

  /** Maintain the Misra–Gries state from a streaming frame with an
    * `item` column. */
  def maintain(items: DataFrame, cap: Int, stateDir: String,
               checkpoint: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    state(stateDir).maintain(items, checkpoint, trigger)(foldBatch(cap))
}
