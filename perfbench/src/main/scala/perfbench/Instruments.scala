package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One completed micro-batch as its progress event reports it. The
  * publish time is the trigger start plus every phase up to and including
  * addBatch (the store's commit is the last step of addBatch).
  */
final case class Batch(id: Long, startMs: Double, rows: Long,
                       phases: Seq[(String, Double)]) {
  def phase(n: String): Double = phases.collectFirst { case (`n`, v) => v }.getOrElse(0.0)
  def publishMs: Double = startMs + phase("triggerExecution") - phase("commitOffsets")
}

object Batch {
  /** Phase order inside one trigger of a micro-batch query. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def of(p: StreamingQueryProgress): Batch =
    Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows,
      p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.doubleValue })
}

/** Collects every query's progress events (registered for the whole run;
  * it is how publish times are measured, traced or not).
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)

  /** Batches that read data, one per batch id, in id order. */
  def batches(query: UUID): Seq[Batch] =
    events.asScala.toSeq.filter(p => p.id == query && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(ps => Batch.of(ps.last)).toSeq.sortBy(_.id)
}

final case class TaskRec(endMs: Double, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** Job and task counters from Spark's listener bus (traced runs only). */
final class JobLog extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Double]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val jobEnds = new ConcurrentLinkedQueue[(Double, Double)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(e.time.toDouble)
    jobStart.put(e.jobId, e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobEnds.add((s, e.time.toDouble)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.taskInfo.finishTime.toDouble, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsIn(a: Double, b: Double): Int = jobs.asScala.count(t => t >= a && t <= b)
  /** (start, end) of every finished job, epoch ms. */
  def jobIntervals: Seq[(Double, Double)] = jobEnds.asScala.toSeq
  def tasksIn(a: Double, b: Double): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => t.endMs >= a && t.endMs <= b)
}

object Instruments {
  /** Block until the listener bus has delivered every posted event. */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Used heap after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The fixed CPU probe (an md5/crc32 scan over 2^21 ids at the
    * session's width), in seconds. A diagnostic recorded beside each run;
    * nothing is discarded, re-run or selected by it.
    */
  def probe(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(1L << 21).selectExpr("sum(crc32(md5(cast(id as string))))").collect()
    (System.nanoTime() - t) / 1e9
  }
}
