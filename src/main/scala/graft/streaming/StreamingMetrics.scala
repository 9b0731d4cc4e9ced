package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Maintained ranking metrics over a scored event stream — the streaming
  * face of `ml_auc_rank` / `ml_gains_lift` (as StreamingVectorSearch is
  * of `ann_incremental`). The load-bearing observation: every rank-sum
  * metric's sufficient statistic is the per-score histogram
  * (score → (n, n_pos)), which is MERGEABLE — a micro-batch folds in with
  * one hash-agg union, nothing is re-scored, and AUC/gains recompute from
  * the bounded histogram (≤ score-range cardinality rows) in
  * milliseconds. So the stream maintains the histogram, not the metric:
  * O(|batch| + |histogram|) per batch, independent of the corpus size the
  * histogram summarizes.
  *
  * State versioning is [[VersionedState]]'s: version v{b} (b = the
  * source-checkpointed batch id) is derived DETERMINISTICALLY from the
  * latest version with id < b plus the batch slice, so crash-replay
  * rewrites the same version from the same inputs — exactly-once by
  * idempotent re-derivation, the SnapshotStore discipline without
  * needing its key-addressed merge (histogram merge is additive, not
  * last-writer-wins).
  */
object StreamingMetrics {

  /** Per-score sufficient statistic of a (score: Long, pos: Long) slice. */
  def scoreHistogram(scored: DataFrame): DataFrame =
    scored.groupBy("score")
      .agg(count(lit(1)).as("n_i"), sum("pos").as("p_i"))

  /** Additive histogram merge — associative and commutative, so any
    * batch arrival order yields the same state.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("score")
      .agg(sum("n_i").as("n_i"), sum("p_i").as("p_i"))

  /** Mann-Whitney AUC from the histogram — the exact-integer rank-sum
    * algebra shared with the registered `ml_auc_rank` (single source of
    * truth: the batch query IS this over a one-shot histogram). The
    * ordered window runs over histogram cardinality, bounded by the
    * score range, never the event count.
    */
  def aucFromHistogram(byScore: DataFrame): DataFrame = {
    val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum", coalesce(sum("n_i").over(w), lit(0L)))
      .agg(
        sum(col("p_i") * (col("cum") * 2 + col("n_i") + 1)).as("r2"),
        sum(col("p_i")).as("p"),
        sum(col("n_i") - col("p_i")).as("nneg"))
      .select(col("p").as("n_pos"), col("nneg").as("n_neg"),
        ((col("r2") - col("p") * (col("p") + 1)).cast("double") /
          (col("p") * col("nneg") * 2L).cast("double")).as("auc"))
  }

  /** The histogram's versioned state ([[VersionedState]]). */
  private[graft] def state(stateDir: String): VersionedState =
    new VersionedState(stateDir, spark =>
      spark.range(0).select(col("id").as("score"), col("id").as("n_i"),
        col("id").as("p_i")))

  /** Fold one micro-batch of (score, pos) rows into the histogram. */
  private[graft] def foldBatch(prev: DataFrame, batch: DataFrame): DataFrame =
    merge(prev, scoreHistogram(batch))

  /** Latest committed histogram (empty-schema frame when none). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    state(stateDir).latest(spark)

  /** Maintain the histogram from a streaming (score, pos) frame. */
  def maintain(scored: DataFrame, stateDir: String, checkpoint: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    state(stateDir).maintain(scored, checkpoint, trigger)(foldBatch)
}
