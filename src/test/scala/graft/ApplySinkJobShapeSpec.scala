package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStream, SnapshotStore}

/** The job shape of the CDC apply sink's non-folding micro-batch: every
  * job carries its phase label, the publish writes one L0 segment in one
  * job with no shuffle, the poison count and touched-bucket set cost no
  * jobs of their own, and the dead-letter queue (DLQ) is written only
  * when a batch holds poison.
  */
class ApplySinkJobShapeSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath

  private def writeCdcFile(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(new java.io.File(dir, name).toPath, lines.asJava)

  private def rec(id: String, name: String, seq: String, keys: String,
                  img: Option[String]): String = {
    val imgJson = img.map(i => s""""$i"""").getOrElse("null")
    s"""{"eventID":"$id","eventName":"$name","approxCreationTs":"2024-01-01T00:00:01Z",""" +
      s""""sequenceNumber":"$seq","keys":"$keys","newImage":$imgJson,"oldImage":null}"""
  }

  /** Jobs per micro-batch with their phase labels (the suffix of the job
    * description), and per batch the publish's L0 write jobs and the
    * shuffle records their stages read.
    */
  private class SinkRecorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Long, java.util.List[String]]()
    val stageBatch = new ConcurrentHashMap[Int, Long]()
    val l0ShuffleRead = new ConcurrentHashMap[Long, java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).foreach { b =>
          val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
          val phase = Phases.find(ph => desc.endsWith(s": $ph")).getOrElse(s"unlabelled: $desc")
          jobs.computeIfAbsent(b, _ => new java.util.concurrent.CopyOnWriteArrayList[String]())
            .add(phase)
          if (phase == SnapshotStore.Phase.L0Write) {
            l0ShuffleRead.putIfAbsent(b, 0L)
            e.stageIds.foreach(stageBatch.put(_, b))
          }
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(i.taskMetrics).filter(_ => stageBatch.containsKey(i.stageId)).foreach(m =>
        l0ShuffleRead.merge(stageBatch.get(i.stageId), m.shuffleReadMetrics.recordsRead,
          (a, c) => a + c))
    }
  }

  private val Phases = {
    import SnapshotStore.Phase._
    Seq(BatchCheckpoint, DeadLetter, DeltaCheckpoint, L0Write, Fold, Commit)
  }

  // Jobs of a non-folding micro-batch: the batch's checkpoint (poison
  // count observed on it), the compacted delta's checkpoint (dedup and
  // LWW shuffles, touched buckets observed on it) and the L0 write; plus
  // the DLQ write when the batch has poison.
  private val MaxJobsClean = 5
  private val MaxJobsPoison = 6

  test("a non-folding micro-batch labels every job by phase, writes one L0 segment " +
    "in one shuffle-free job, runs no probe jobs, and dead-letters exactly the planted poison") {
    assert(spark.sparkContext.defaultParallelism >= 2, "needs local[>=2]")
    import spark.implicits._
    val in = tmp("shape-in"); val target = tmp("shape-target")
    val ckpt = tmp("shape-ckpt"); val dlq = new java.io.File(tmp("shape-dlq"), "dlq").getPath
    val keys = (0 until 40).map(i => f"k$i%03d")
    SnapshotStore.writeTarget(keys.map(k => (k, s"seed-$k")).toDF("keys", "newImage"),
      target, batchId = 0)

    val recorder = new SinkRecorder
    spark.sparkContext.addSparkListener(recorder)
    def drain(): Unit =
      CdcStream.applySink(CdcStream.cdcFileSource(spark, in, maxFilesPerTrigger = 1),
        target, ckpt, dlq, trigger = Trigger.AvailableNow()).start().awaitTermination(120000)
    try {
      writeCdcFile(in, "b0.json", keys.zipWithIndex.map { case (k, i) =>
        rec(s"a$i", "MODIFY", s"1${"%03d".format(i)}", k, Some(s"a-$k")) })
      drain()
      ListenerBusDrain.drain(spark.sparkContext)
      assert(!new java.io.File(dlq).exists(), "a poison-free batch created the DLQ directory")

      writeCdcFile(in, "b1.json", keys.take(20).zipWithIndex.map { case (k, i) =>
        rec(s"b$i", "MODIFY", s"2${"%03d".format(i)}", k, Some(s"b-$k")) } ++ Seq(
        rec("p1", "INSERT", "3001", "k900", None),          // PUT without image
        rec("p2", "REMOVE", "null", "k901", None).replace("\"null\"", "null")))
      drain()
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(recorder)

    val jobs = recorder.jobs.asScala.map { case (b, ps) => b -> ps.asScala.toList }.toMap
    val l0Read = recorder.l0ShuffleRead.asScala.map { case (b, n) => b -> n.longValue }.toMap
    info(s"job phases per batch $jobs; L0 write shuffle records read per batch $l0Read")
    assert(jobs.keySet == Set(0L, 1L), s"batches seen: $jobs")
    assert(jobs.values.flatten.forall(Phases.contains), s"a sink job has no phase label: $jobs")
    assert(jobs(0L).size <= MaxJobsClean, s"poison-free batch ran ${jobs(0L)}")
    assert(jobs(1L).size <= MaxJobsPoison, s"batch with poison ran ${jobs(1L)}")
    assert(jobs.values.forall(_.count(_ == SnapshotStore.Phase.L0Write) == 1),
      s"the publish wrote in other than one job: $jobs")
    assert(!jobs(0L).contains(SnapshotStore.Phase.DeadLetter), jobs)
    assert(jobs(1L).count(_ == SnapshotStore.Phase.DeadLetter) == 1, jobs)
    assert(l0Read == Map(0L -> 0L, 1L -> 0L), s"the L0 write read a shuffle: $l0Read")
    // one L0 segment per batch, listed by every chain the batch touched
    val segs = SnapshotStore.currentManifest(spark, target).get._2.buckets.values.flatten.toSet
    val appended = segs.filter(SnapshotStore.isL0)
    assert(appended.size == 2, segs)
    assert((segs -- appended).map(_.split("/")(0)).size == 1, s"more than the seed's L1: $segs")
    val dataDirs = appended.map(_.split("/")(0))
    assert(dataDirs.forall(d => new java.io.File(target, d).list().toSet == Set(SnapshotStore.L0Dir)),
      dataDirs.map(d => d -> new java.io.File(target, d).list().toSeq))

    val dead = spark.read.parquet(dlq).select("eventID", "batchId", "error").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(dead.map(d => d._1 -> d._2) == Set("p1" -> 1L, "p2" -> 1L))
    assert(dead.map(_._3).forall(_.startsWith("poison: ")))

    val state = SnapshotStore.readTarget(spark, target).select("keys", "newImage")
      .as[(String, String)].collect().toMap
    assert(state == keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i < 20) s"b-$k" else s"a-$k") }.toMap)
  }
}
