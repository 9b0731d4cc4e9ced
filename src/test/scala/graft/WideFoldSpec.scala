package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.streaming.SnapshotStore

/** A fold that spans every bucket in one publish: a metadata-less seed
  * (`keys`, `newImage` only) plus [[SnapshotStore.FoldThreshold]] wide
  * deltas, so the last delta folds all 32 chains, more chain paths than
  * Spark's parallel-discovery threshold. The folded state must equal the
  * last-writer-wins (LWW) model, keep a tombstone's sequence guard
  * against a stale PUT delivered after the fold, and the fold must run
  * no file-listing or schema-merge job.
  */
class WideFoldSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath

  private val Phase = "graft.spec.phase"

  /** Descriptions of the jobs started while `Phase` was set on the
    * submitting thread.
    */
  private class PhaseJobs extends SparkListener {
    val seen = new ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).filter(_.getProperty(Phase) != null).foreach { p =>
        seen.put(e.jobId, Option(p.getProperty("spark.job.description")).getOrElse(""))
      }
  }

  // Jobs of the folding merge: the delta's checkpoint (touched buckets
  // observed on it), the fold's LWW shuffle, then the publish's
  // repartition and write.
  private val MaxFoldJobs = 4

  test("a fold over every bucket's chain reads the seed's vintage, keeps tombstone " +
    "guards, equals the LWW model and lists no files in a job") {
    import spark.implicits._
    val root = tmp("widefold-cat")
    val target = s"$root/ns/t"
    val keys = (0 until 200).map(i => f"k$i%03d")
    // metadata-less seed: every key PUT with a null sequence
    SnapshotStore.writeTarget(keys.map(k => (k, s"seed-$k")).toDF("keys", "newImage"),
      target, batchId = 0)
    val model = scala.collection.mutable.Map[String, (Option[BigInt], String, Option[String])](
      keys.map(k => k -> ((None, "PUT", Some(s"seed-$k")))): _*)
    def merge(rows: Seq[(String, String, String, Option[String])], batchId: Long): Unit = {
      SnapshotStore.mergeIntoTarget(spark, target,
        rows.toDF("keys", "op", "sequenceNumber", "newImage"), batchId)
      rows.foreach { case (k, op, seq, img) =>
        if (model(k)._1.forall(_ < BigInt(seq))) model(k) = (Some(BigInt(seq)), op, img)
      }
    }
    def chainLengths =
      SnapshotStore.currentManifest(spark, target).get._2.buckets.values.map(_.length).toSeq

    val tomb = "k007"
    // FoldThreshold - 1 wide appends: keys k000..k149 in every batch, so
    // each of the 32 chains grows by one segment per batch
    (1 until SnapshotStore.FoldThreshold).foreach { b =>
      merge(keys.take(150).filter(_ != tomb).zipWithIndex.map { case (k, i) =>
        (k, "PUT", (b * 1000 + i).toString, Some(s"v$b-$k")) } ++
        (if (b == 2) Seq((tomb, "DELETE", "3000", None)) else Nil), b)
    }
    assert(chainLengths.size == SnapshotStore.DefaultBuckets)
    assert(chainLengths.forall(_ == SnapshotStore.FoldThreshold), chainLengths)
    assert(chainLengths.sum > spark.sessionState.conf.parallelPartitionDiscoveryThreshold)

    val jobs = new PhaseJobs
    spark.sparkContext.addSparkListener(jobs)
    spark.sparkContext.setLocalProperty(Phase, "fold")
    try {
      val b = SnapshotStore.FoldThreshold
      merge(keys.take(150).filter(_ != tomb).zipWithIndex.map { case (k, i) =>
        (k, "PUT", (b * 1000 + i).toString, Some(s"v$b-$k")) }, b)
      ListenerBusDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.setLocalProperty(Phase, null)
      spark.sparkContext.removeSparkListener(jobs)
    }
    val foldJobs = jobs.seen.asScala.toMap
    info(s"folding merge ran ${foldJobs.size} jobs: ${foldJobs.values.mkString("; ")}")
    assert(chainLengths.forall(_ == 1), "every chain folds in the one publish")
    assert(!foldJobs.values.exists(_.contains("Listing leaf files")), foldJobs)
    assert(foldJobs.size <= MaxFoldJobs, foldJobs)

    // a PUT staler than the tombstone, delivered after the fold: the
    // folded segment kept the guard, so the key stays deleted
    merge(Seq((tomb, "PUT", "999", Some("resurrected"))), SnapshotStore.FoldThreshold + 1L)

    val expect = model.collect { case (k, (seq, "PUT", img)) =>
      (k, seq.map(_.toString).orNull, img.orNull) }.toSet
    assert(!expect.exists(_._1 == tomb))
    assert(expect.count(_._2 == null) == 50, "seed-only keys keep a null sequence")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("keys", "sequenceNumber", "newImage").as[(String, String, String)].collect().toSet
    assert(rows(SnapshotStore.readTarget(spark, target)) == expect)

    spark.conf.set("spark.sql.catalog.graftfold", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graftfold.root", root)
    // the V2 scan reads a metadata-less row's null sequence as null too
    assert(rows(spark.sql("SELECT * FROM graftfold.ns.t")) == expect)
  }
}
