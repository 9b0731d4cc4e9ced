package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingMetrics

/** Maintained ranking metrics: the streamed per-score histogram must
  * equal the batch histogram of everything delivered so far — after
  * every micro-batch, across a stop/restart, and through the derived
  * AUC — because the sufficient statistic is additive and the state
  * version for batch b re-derives deterministically from (state < b,
  * batch b).
  */
class StreamingMetricsSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath

  private def histMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("maintained histogram equals batch recompute after every micro-batch; AUC matches ml_auc_rank") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the real corpus, streamed in three uneven slices
    val all = Tables.events(spark, "/root/testdata/sf0.001")
      .select(expr("cast(round(value * 100) as bigint)").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val slices = Seq(all.take(100), all.slice(100, 700), all.drop(700))

    val mem = MemoryStream[(Long, Long)]
    val stateDir = tmp("auc-state"); val ckpt = tmp("auc-ckpt")
    var delivered = Seq.empty[(Long, Long)]
    for (slice <- slices) {
      mem.addData(slice: _*)
      delivered ++= slice
      val q = StreamingMetrics.maintain(
        mem.toDF().toDF("score", "pos"), stateDir, ckpt,
        trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
      val expect = histMap(StreamingMetrics.scoreHistogram(
        delivered.toDF("score", "pos")))
      assert(histMap(StreamingMetrics.readState(spark, stateDir)) == expect,
        s"state after ${delivered.size} rows")
    }
    // the derived metric from maintained state == the registered batch query
    val streamed = StreamingMetrics.aucFromHistogram(
      StreamingMetrics.readState(spark, stateDir)).collect().head
    val batch = SparkEntry.queries("ml_auc_rank")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(streamed.getLong(0) == batch.getLong(0))
    assert(streamed.getLong(1) == batch.getLong(1))
    assert(streamed.getDouble(2) == batch.getDouble(2))
  }

  test("crash-replay of an uncommitted batch does not double-count") {
    import spark.implicits._
    val stateDir = tmp("replay-state")
    val b0 = Seq((10L, 1L), (20L, 0L)).toDF("score", "pos")
    val b1 = Seq((10L, 0L), (30L, 1L)).toDF("score", "pos")
    // run the sink's per-batch step directly: commit batch 0, then
    // "deliver" batch 1 twice (crash after commit, source replays)
    def applyBatch(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      StreamingMetrics.state(stateDir).step(batch, id)(StreamingMetrics.foldBatch)
      ()
    }
    applyBatch(b0, 0L)
    applyBatch(b1, 1L)
    val once = histMap(StreamingMetrics.readState(spark, stateDir))
    applyBatch(b1, 1L) // replay
    assert(histMap(StreamingMetrics.readState(spark, stateDir)) == once,
      "replayed batch folded onto state<1, not onto its own output")
    assert(once == Map(10L -> (2L, 1L), 20L -> (1L, 0L), 30L -> (1L, 1L)))
  }

  // ───────────── StreamingVectorDrift: maintained covariance sums

  private def sumsMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("maintained covariance sums equal batch sums; streamed axis is " +
    "BIT-IDENTICAL to Pca.dominantAxis after every micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 64
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x as double) * 100) as bigint)) as qv")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val slices = Seq(all.take(50), all.slice(50, 350), all.drop(350))

    val mem = MemoryStream[(Long, Seq[Long])]
    val stateDir = tmp("drift-state"); val ckpt = tmp("drift-ckpt")
    var delivered = Seq.empty[(Long, Seq[Long])]
    for (slice <- slices) {
      mem.addData(slice: _*)
      delivered ++= slice
      val q = graft.streaming.StreamingVectorDrift.maintain(
        graft.analytics.Pca.shifted(mem.toDF().toDF("vec_id", "qv")),
        dim, stateDir, ckpt)
      q.awaitTermination(60000)
      val deliveredDf = delivered.toDF("vec_id", "qv")
      val expect = sumsMap(graft.streaming.StreamingVectorDrift.sumsOf(
        graft.analytics.Pca.shifted(deliveredDf), dim))
      assert(sumsMap(graft.streaming.StreamingVectorDrift
        .readState(spark, stateDir)) == expect,
        s"sums after ${delivered.size} vectors")
      // the centering identity makes the maintained axis EQUAL the
      // two-pass batch axis, element for element — not merely aligned
      val streamedAxis = graft.streaming.StreamingVectorDrift.axisFromState(
        graft.streaming.StreamingVectorDrift.readState(spark, stateDir), dim)
      val batchAxis = graft.analytics.Pca.dominantAxis(
        graft.analytics.Pca.shifted(deliveredDf), dim)
      assert(streamedAxis.toSeq == batchAxis.toSeq,
        s"axis after ${delivered.size} vectors")
    }
  }

  test("drift monitor: crash-replay idempotent; rotated stream trips the alarm") {
    import spark.implicits._
    val dim = 8
    val rng = new scala.util.Random(11)
    def planted(u: Array[Double], n: Int, from: Int) = (0 until n).map { k =>
      val t = rng.nextGaussian() * 10
      ((from + k).toLong, (0 until dim).map(i =>
        math.floor(t * u(i) + rng.nextGaussian() * 2).toLong + 10000L).toSeq)
    }
    val u1 = Array(5.0, -3.0, 4.0, 1.0, 0.0, 2.0, -1.0, 3.0)
    val u2 = Array(3.0, 5.0, 0.0, 0.0, 7.0, 0.0, 0.0, 0.0) // ⟂ u1
    require(u1.zip(u2).map { case (a, b) => a * b }.sum == 0.0)

    val stateDir = tmp("drift2-state")
    def applyBatch(rows: Seq[(Long, Seq[Long])], id: Long): Unit = {
      graft.streaming.StreamingVectorDrift.state(stateDir)
        .step(rows.toDF("vec_id", "qs"), id)(
          graft.streaming.StreamingVectorDrift.foldBatch(dim))
      ()
    }
    val phase1 = planted(u1, 300, 0)
    applyBatch(phase1, 0L)
    val baseline = graft.streaming.StreamingVectorDrift.axisFromState(
      graft.streaming.StreamingVectorDrift.readState(spark, stateDir), dim)
    val selfAlign = graft.streaming.StreamingVectorDrift
      .alignmentPpm(baseline, baseline)
    assert(selfAlign > 999990L, s"self-alignment $selfAlign")

    // crash-replay: re-deliver batch 0, state must not change
    val before = sumsMap(graft.streaming.StreamingVectorDrift
      .readState(spark, stateDir))
    applyBatch(phase1, 0L)
    assert(sumsMap(graft.streaming.StreamingVectorDrift
      .readState(spark, stateDir)) == before, "replay double-counted")

    // phase 2: 3× the mass arrives along the ORTHOGONAL direction —
    // the dominant axis rotates and alignment vs baseline collapses
    applyBatch(planted(u2, 900, 1000), 1L)
    val current = graft.streaming.StreamingVectorDrift.axisFromState(
      graft.streaming.StreamingVectorDrift.readState(spark, stateDir), dim)
    val align = graft.streaming.StreamingVectorDrift
      .alignmentPpm(baseline, current)
    assert(math.abs(align) < 200000L,
      s"rotated stream should trip the drift alarm, alignment = $align")
  }

  // ───────────── StreamingHeavyHitters: bounded-state Misra–Gries

  test("heavy hitters: Misra-Gries bound holds vs exact counts; " +
    "bounded state; replay idempotent") {
    import graft.streaming.StreamingHeavyHitters
    val cap = 32
    val tokens = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("explode(split(text, ' ')) as item")
      .collect().map(_.getString(0)).toSeq
    val slices = Seq(tokens.take(2000), tokens.slice(2000, 7000),
      tokens.drop(7000))
    val stateDir = tmp("hh-state")
    import spark.implicits._
    def applyBatch(rows: Seq[String], id: Long): Unit = {
      StreamingHeavyHitters.state(stateDir)
        .step(rows.toDF("item"), id)(StreamingHeavyHitters.foldBatch(cap))
      ()
    }
    var delivered = Seq.empty[String]
    for ((slice, i) <- slices.zipWithIndex) {
      applyBatch(slice, i.toLong)
      delivered ++= slice
      val state = StreamingHeavyHitters.readState(spark, stateDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state.size <= cap, s"state ${state.size} rows exceeds cap")
      val exact = delivered.groupBy(identity).view.mapValues(_.size.toLong)
      val slack = delivered.size.toLong / (cap + 1)
      for ((item, est) <- state) {
        val t = exact.getOrElse(item, 0L)
        assert(est <= t, s"$item overestimated: $est > $t")
        assert(t - est <= slack, s"$item error ${t - est} > N/(cap+1)=$slack")
      }
      // no true heavy hitter is ever evicted
      for ((item, t) <- exact if t > slack)
        assert(state.contains(item), s"heavy hitter $item (count $t) evicted")
    }
    // crash-replay: re-deliver the last batch, state must not change
    val before = StreamingHeavyHitters.readState(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    applyBatch(slices.last, (slices.size - 1).toLong)
    val after = StreamingHeavyHitters.readState(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before, "replay double-counted")
  }
}
