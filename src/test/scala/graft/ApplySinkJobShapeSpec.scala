package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStream, SnapshotStore}

/** The job shape of the CDC apply sink's non-folding micro-batch: the
  * publish writes its bucket segments in more than one task, the poison
  * count and touched-bucket set cost no jobs of their own, and the
  * dead-letter queue (DLQ) is written only when a batch holds poison.
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

  /** Jobs per micro-batch, and the task count of each stage that both
    * read a shuffle and wrote files (the publish's segment write; the
    * DLQ write reads no shuffle).
    */
  private class SinkRecorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Long, Integer]()
    val stageBatch = new ConcurrentHashMap[Int, Long]()
    val publishWriteTasks = new ConcurrentHashMap[Long, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).foreach { b =>
          jobs.merge(b, 1, (a, c) => a + c)
          e.stageIds.foreach(stageBatch.put(_, b))
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null && m.outputMetrics.bytesWritten > 0 &&
          m.shuffleReadMetrics.recordsRead > 0 && stageBatch.containsKey(i.stageId))
        publishWriteTasks.merge(stageBatch.get(i.stageId), i.numTasks, (a, c) => math.max(a, c))
    }
  }

  // Jobs of a non-folding micro-batch: the batch's checkpoint (poison
  // count observed on it), the compacted delta's checkpoint (dedup and
  // LWW shuffles, touched buckets observed on it), the publish's
  // repartition and write; plus the DLQ write when the batch has poison.
  private val MaxJobsClean = 6
  private val MaxJobsPoison = 7

  test("a non-folding micro-batch writes its buckets in parallel, runs no probe jobs, " +
    "and dead-letters exactly the planted poison") {
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

    val jobs = recorder.jobs.asScala.map { case (b, n) => b -> n.intValue }.toMap
    val writeTasks = recorder.publishWriteTasks.asScala.map { case (b, n) => b -> n.intValue }.toMap
    info(s"jobs per batch $jobs; publish write tasks per batch $writeTasks")
    assert(jobs.keySet == Set(0L, 1L), s"batches seen: $jobs")
    assert(jobs(0L) <= MaxJobsClean, s"poison-free batch ran ${jobs(0L)} jobs")
    assert(jobs(1L) <= MaxJobsPoison, s"batch with poison ran ${jobs(1L)} jobs")
    assert(writeTasks.keySet == Set(0L, 1L), s"publish write stages seen: $writeTasks")
    assert(writeTasks.values.forall(_ > 1), s"publish wrote in one task: $writeTasks")

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
