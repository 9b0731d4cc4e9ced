package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.SnapshotStore

/** Read-amplification measurement for the merge-on-read snapshot store —
  * the read side of the fold threshold's trade (perfbench's `pitr_drill`
  * measures the write side), so the
  * [[graft.streaming.SnapshotStore.FoldThreshold]] default is data-backed
  * rather than asserted.
  *
  * For each fold threshold, a pre-seeded target absorbs `batches` small
  * merges (keys overlap the seed, so every merge does real LWW work and
  * every bucket's chain grows toward the threshold), then the bench
  * records:
  *  - `write_sec_total`: wall time of all merges (folding is PAID here —
  *    a lower threshold folds more often);
  *  - `read_sec`: min of three full-state resolves (scan + read-side LWW
  *    over the whole chain — min, because the question is plan cost, not
  *    page-cache luck);
  *  - `max_chain` / `mean_chain`: the manifest's actual chain lengths,
  *    proving what the threshold really bounded.
  *
  * One JSON line per threshold; the BASELINE.md slot holds the measured
  * curve. Run: sbt "runMain graft.ReadAmpBench [preSeedKeys] [batches]
  * [batchSize]".
  */
object ReadAmpBench {
  def main(args: Array[String]): Unit = {
    val preSeed = args.headOption.map(_.toLong).getOrElse(200000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(24)
    val batchSize = args.drop(2).headOption.map(_.toInt).getOrElse(2000)
    val spark = GraftSession.local("graft-readamp")

    def seed(target: String): Unit =
      SnapshotStore.writeTarget(
        spark.range(preSeed).select(
          concat(lit("k"), col("id")).as("keys"),
          lit("0").as("sequenceNumber"),
          concat(lit("seed"), col("id")).as("newImage")),
        target, batchId = -2L)

    def merge(target: String, b: Int, ft: Int): Double = {
      val delta = spark.range(batchSize).select(
        concat(lit("k"), pmod(col("id") * 2654435761L + lit(b * 7919), lit(preSeed)))
          .as("keys"),
        lit("PUT").as("op"),
        lpad(lit(b).cast("string"), 12, "0").as("sequenceNumber"),
        concat(lit("img"), lit(b), lit("_"), col("id")).as("newImage"))
        .dropDuplicates("keys")
      val t0 = System.nanoTime()
      SnapshotStore.mergeIntoTarget(spark, target, delta, b.toLong, foldThreshold = ft)
      (System.nanoTime() - t0) / 1e9
    }

    def readSec(target: String): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SnapshotStore.readTarget(spark, target).count()
      (System.nanoTime() - t0) / 1e9
    }.min

    def maxChain(target: String): Int = SnapshotStore.currentManifest(spark, target)
      .get._2.buckets.values.map(_.length).max

    // part 1 — the raw curve: resolve latency vs chain length on a
    // never-folding target (chain = batches applied + the seed segment)
    locally {
      val target = Files.createTempDirectory("ra-curve").toFile.getAbsolutePath
      seed(target)
      val samples = Set(1, 2, 4, 8, 12, 16, 20, 24)
      val points = (1 to batches).flatMap { b =>
        merge(target, b, ft = 1000000)
        if (samples(b)) Some(s"""[${maxChain(target)},${f"${readSec(target)}%.3f"}]""")
        else None
      }
      println(s"""{"metric":"readamp_curve","pre_seeded_keys":$preSeed,"batch_size":$batchSize,"chain_vs_read_sec":[${points.mkString(",")}]}""")
    }

    // part 2 — the threshold trade, measured at the WORST point of each
    // fold cycle (final chain = threshold - 1, i.e. just before a fold):
    // amortized write cost per batch vs worst-case resolve latency
    for (ft <- Seq(2, 4, 8, 16)) {
      val target = Files.createTempDirectory(s"ra-target-$ft").toFile.getAbsolutePath
      seed(target)
      // enough batches past `batches` to land the final chain at ft-1
      val n = batches + ((ft - 1 - (batches % ft)) + ft) % ft
      var writeSec = 0.0
      for (b <- 1 to n) writeSec += merge(target, b, ft)
      println(f"""{"metric":"read_amplification","fold_threshold":$ft,"pre_seeded_keys":$preSeed,"batches":$n,"batch_size":$batchSize,"write_sec_per_batch":${writeSec / n}%.3f,"read_sec_worst":${readSec(target)}%.3f,"max_chain":${maxChain(target)}}""")
    }
    spark.stop()
  }
}
