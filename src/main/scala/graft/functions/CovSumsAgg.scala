package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable covariance sufficient sums over integer component arrays
  * (SURVEY §2.10; the PCA engine's distributed stage). Buffer layout:
  * one Long array `[n, sx(0..d−1), sxy upper-triangle row-major]` of
  * 1 + d + d(d+1)/2 slots, updated IN PLACE per row and merged by
  * elementwise addition — associative, commutative, and exactly the
  * additive state [[graft.streaming.StreamingVectorDrift]] maintains
  * across micro-batches.
  *
  * Why this exists next to the pair-explode formulation: the explode
  * ships d(d+1)/2 struct rows PER INPUT ROW into a hash-agg (266 M
  * shuffled structs for 128 k×64-dim vectors — measured 93 s at x64;
  * BASELINE.md, "scale curve, exact-integer PCA"), where this aggregate
  * does the same 2 080 multiply-adds per row into a single per-partition
  * buffer and ships ONE 2 145-slot array per partition. Same exact
  * integers, same result, map-side-combine-perfect — the
  * custom-Aggregator-beats-generator-explode discipline of
  * TopKScoredAgg/MinHash12.
  */
class CovSumsAgg(dim: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  require(dim >= 1 && dim <= 512, s"dim must be in [1,512], got $dim")
  private val slots = 1 + dim + dim * (dim + 1) / 2

  override def zero: Array[Long] = new Array[Long](slots)

  override def reduce(buf: Array[Long], qs: Seq[Long]): Array[Long] = {
    require(qs.length == dim, s"vector length ${qs.length}, expected $dim")
    // IndexedSeq access is O(1); copy once so the hot loop reads a
    // primitive array regardless of the incoming Seq implementation
    val x = new Array[Long](dim)
    var i = 0
    while (i < dim) { x(i) = qs(i); i += 1 }
    buf(0) += 1L
    i = 0
    var p = 1 + dim
    while (i < dim) {
      buf(1 + i) += x(i)
      var j = i
      while (j < dim) { buf(p) += x(i) * x(j); j += 1; p += 1 }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < slots) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(buf)

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
