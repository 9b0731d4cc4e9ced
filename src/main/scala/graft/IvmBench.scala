package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.CdcStream

/** Throughput of the streaming incremental-view-maintenance path
  * (SURVEY §2.11 T11): a synthetic CDC log ([[IvmBench.synthCdcLog]])
  * driven through `statefulAggDeltas` (per-key LWW state machine →
  * signed retract/assert feed) chained into `maintainedAggView` (the
  * streaming SUM), multi-batch so state-store round trips are in the
  * measurement. The maintained view is captured in a memory sink and
  * checked against a batch recompute of the same log's final state —
  * the bench refuses to print a throughput number for a wrong answer.
  *
  * Run: sbt "runMain graft.IvmBench [nEvents] [nBatches]"
  */
object IvmBench {

  /** Synthetic CDC log: 10% tombstones, keys drawn from an n/3 hot space
    * (so compaction, the merge, and state transitions all do real work),
    * written as the same JSON the file source reads in production shape.
    */
  private def synthCdcLog(spark: SparkSession, dir: String, n: Int, parts: Int): Unit =
    spark.range(n).select(
      concat(lit("e"), col("id")).as("eventID"),
      when(col("id") % 10 === 0, "REMOVE").otherwise("MODIFY").as("eventName"),
      timestamp_millis(lit(1704067200000L) + col("id")).as("approxCreationTs"),
      lpad(col("id").cast("string"), 12, "0").as("sequenceNumber"),
      concat(lit("k"), pmod(col("id") * 2654435761L, lit(n / 3 + 1))).as("keys"),
      when(col("id") % 10 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("img"), col("id"))).as("newImage"),
      lit(null).cast("string").as("oldImage"))
      .coalesce(parts)
      .write.mode("overwrite").json(dir)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = GraftSession.local("graft-ivm-bench")

    // Spark's global-watermark correctness check conservatively rejects
    // ANY stateful op downstream of a watermark-evicted fMGWS. Here the
    // downstream aggregate is UNWINDOWED (no watermark, no late-row
    // discard is possible — every signed delta is summed whenever it
    // arrives), so the flagged hazard cannot occur; disable the check
    // for the chain, keeping the production default (finite event-time
    // retention) in the measured path. See statefulAggDeltas scaladoc.
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")

    val dir = Files.createTempDirectory("ivm-in").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("ivm-ckpt").toFile.getAbsolutePath
    synthCdcLog(spark, dir, n, parts = batches * 4)

    // group = last key digit (10 groups), measure = image length
    val group = expr("substring(keys, -1, 1)")
    val measure = coalesce(length(col("image")), lit(0))

    val t0 = System.nanoTime()
    val view = CdcStream.maintainedAggView(
      CdcStream.statefulAggDeltas(
        CdcStream.cdcFileSource(spark, dir, maxFilesPerTrigger = 4)),
      group, measure)
    // Update-mode emits one row per changed group per micro-batch; a
    // memory-sink + last() selection is partition-order-dependent, so
    // tag each row with its monotone batch id and keep the max-batch
    // row per group — order-independent by construction.
    val latest = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
    val q = view.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.collect().foreach { r =>
          latest.merge(r.getAs[String]("grp"),
            (batchId, r.getAs[Long]("n_keys"), r.getAs[Long]("m_sum")),
            (a, b) => if (b._1 >= a._1) b else a)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(600000)
    val secs = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    val got = latest.asScala.toMap.map { case (g, (_, n, m)) => g -> ((n, m)) }
    // batch recompute over the same files
    val raw = spark.read.schema(graft.model.CdcSchema.cdcRecord).json(dir)
    val want = graft.ops.CdcOps.lwwCompact(raw, Seq("keys"),
      graft.ops.CdcOps.numericStringOrder(col("sequenceNumber")))
      .filter(col("eventName") =!= "REMOVE")
      .groupBy(expr("substring(keys, -1, 1)").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(length(col("newImage")), lit(0))).as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ok = got.filter(_._2._1 > 0) == want
    require(ok, s"IVM view != batch recompute:\n  got  $got\n  want $want")

    println(f"""{"metric":"ivm_throughput","events":$n,"batches":$batches,"seconds":$secs%.3f,"events_per_sec":${n / secs}%.0f,"groups":${want.size},"verified":$ok}""")
    spark.stop()
  }
}
