package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.CdcSchema
import graft.ops.CdcOps
import graft.restore.{RestoreSession, RestoreStatus}
import graft.streaming.{CdcStream, SnapshotStore}

/** A workload: the generated input shape and how the change log reaches
  * the source directory.
  */
sealed trait Workload {
  def name: String
  def params: GenParams
}

/** The paper's workload: restore to T, open the gate, drain the change
  * log buffered during the restore in one-file micro-batches.
  */
case object PitrDrill extends Workload {
  val name = "pitr_drill"
  val params = GenParams(restoredKeys = 30000, events = 12000, files = 8)
}

/** An open-loop generator appends one file per `FileEveryMs` at a fixed
  * event rate while the sink runs on a processing-time trigger with the
  * reference's 5 s batching window. The generator starts `LeadMs` before
  * a trigger instant, so the stream's first batch (which also pays the
  * query's start-up) holds only the first `LeadMs` of events, and then
  * runs for one full trigger interval.
  */
case object LiveTail extends Workload {
  val name = "live_tail"
  val RateHz = 500
  val FileEveryMs = 100
  val TriggerMs = 5000
  val LeadMs = 500
  /** Files are written this long before a trigger instant, never at it. */
  val GuardMs = 50
  val WindowMs = LeadMs + TriggerMs
  val params = GenParams(restoredKeys = 20000, events = RateHz * WindowMs / 1000,
    files = WindowMs / FileEveryMs, rateHz = RateHz)
}

object Workload {
  val all: Seq[Workload] = Seq(PitrDrill, LiveTail)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** A tiny buffered drain run once per session before anything is
    * measured, to load classes and compile the sink, lookup and scan paths.
    */
  val Warmup = GenParams(restoredKeys = 500, events = 500, files = 1, lookups = 10)
}

/** Generated inputs on disk, the expected end-state digest, and how long
  * generating them took.
  */
final case class Prepared(in: Inputs, history: File, src: File,
                          expected: (Long, BigDecimal), genS: Double)

/** Everything one cycle measured. `layers` is filled on traced cycles. */
final case class CycleResult(
    convergeS: Double, drainEventsPerS: Double,
    lookupMs: Seq[Double], scanS: Double, storeBytesPerKey: Double,
    lagMs: Seq[Double], heapMb: Double, batches: Int, lookups: Int, lookupsFailed: Int,
    errors: Seq[String], layers: Map[String, Double])

object Runner {
  val t0: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** Lookups repeated through `SnapshotStore.readKeys` on traced cycles. */
  val ReadKeysSamples = 10
  /** Lookups at the start of each cycle's closed loop that are checked
    * but not timed (see the reads in `cycle`). The remaining 60 put 15
    * samples beyond the p75.
    */
  val RampLookups = 20
  /** Scans at the start of each cycle's reads that are checked but not
    * timed.
    */
  val UntimedScans = 2
  /** Timed full scans per cycle; the cycle reports their median. */
  val Scans = 5
}

/** Runs cycles of a workload in one session. Every cycle restores the
  * prepared history into a fresh table, drains the change log, verifies
  * the dead-letter queue, and reads the converged table: full scans that
  * check its end state, and point lookups that each check one key.
  */
final class Runner(spark: SparkSession, work: File, seed: Long,
                   progress: ProgressLog, jobs: Option[JobLog], tracer: Tracer) {
  import spark.implicits._

  private def dir(parts: String*): File = {
    val f = parts.foldLeft(work)(new File(_, _)); f.mkdirs(); f
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - Runner.t0) / 1000}%8.2f s  $msg")

  private def secs[A](f: => A): (A, Double) = {
    val t = Clock.nowMs
    val a = f
    (a, (Clock.nowMs - t) / 1000.0)
  }

  /** Order-independent digest of a resolved table: row count and the
    * exact sum of per-row `xxhash64(keys, sequenceNumber, newImage)`.
    */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.selectExpr("count(*) AS n",
      "sum(cast(xxhash64(keys, sequenceNumber, newImage) AS decimal(38,0))) AS h")
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Generate the inputs from the seed and write the history (and, for a
    * buffered change log, every file) under `inputs/<tag>`.
    */
  def prepare(w: Workload, p: GenParams, tag: String): Prepared = tracer.span("input_gen") {
    val t = Clock.nowMs
    val in = Gen.generate(seed, p)
    val base = dir("inputs", w.name, tag)
    Gen.writeHistory(in, base)
    val src = dir("inputs", w.name, tag, "src")
    if (p.rateHz == 0) in.files.indices.foreach(Gen.writeFile(in, _, src, in.restorePointMs))
    Prepared(in, new File(base, "history.json"), src, Digest.ofExpected(in.expected),
      (Clock.nowMs - t) / 1000)
  }

  def cycle(w: Workload, prep: Prepared, idx: Int, traced: Boolean,
            lookups: Boolean, scans: Int = Runner.Scans): CycleResult = tracer.span("cycle") {
    val tag = s"c$idx"
    val ns = w.name
    val in = prep.in
    val p = in.params
    val table = dir("tables", ns, tag).getPath
    // a live tail fills a fresh directory; a buffered log is read in place
    val src = if (p.rateHz > 0) dir("cycles", ns, tag, "src") else prep.src
    val ckpt = new File(dir("cycles", ns, tag), "ckpt").getPath
    val dlq = new File(dir("cycles", ns, tag), "dlq").getPath
    val errors = mutable.ArrayBuffer.empty[String]

    // restore to T: the restored table is the history's LWW state at T
    val restoreStart = Clock.nowMs
    tracer.span("restore") {
      val hist = spark.read.schema(CdcSchema.cdcRecord)
        .json(prep.history.getPath)
      SnapshotStore.writeTarget(RestoreSession.snapshotAsOf(hist, Seq("keys"),
        col("approxCreationTs"), lit(new Timestamp(in.restorePointMs)),
        CdcOps.numericStringOrder(col("sequenceNumber")),
        col("eventName") === CdcSchema.Remove, Seq("sequenceNumber", "newImage")),
        table, batchId = -1L)
    }
    val restoreEnd = Clock.nowMs
    log(s"$tag restored")

    // the gate: one IN PROGRESS poll, then SUCCEEDED; injected sleep
    val polls = Iterator(RestoreStatus.InProgress, RestoreStatus.Succeeded)
    val gate = new RestoreSession(() => polls.next(), pollIntervalMs = 0, sleep = _ => ())
    var gateOpen = 0.0
    val trigger = if (p.rateHz == 0) Trigger.AvailableNow()
                  else Trigger.ProcessingTime(LiveTail.TriggerMs)
    val gateStart = Clock.nowMs
    val q: StreamingQuery = gate.activate { () =>
      gateOpen = Clock.nowMs
      CdcStream.applySink(
        CdcStream.cdcFileSource(spark, src.getPath,
          maxFilesPerTrigger = if (p.rateHz == 0) 1 else 1000),
        table, ckpt, dlq, trigger = trigger).start()
    }.getOrElse(throw new IllegalStateException("gate never opened"))
    tracer.add("gate", gateStart, gateOpen)

    // A buffered change log is all due when the gate opens. A live tail's
    // generator starts LeadMs before a trigger instant (processing-time
    // triggers fire on multiples of the interval since the epoch), so
    // every file lands in the same batch on every run; then it writes
    // each file when its last event is due, whatever the sink is doing.
    val origin =
      if (p.rateHz == 0) gateOpen
      else {
        val t = LiveTail.TriggerMs
        val next = (gateOpen.toLong / t + 1) * t - LiveTail.LeadMs - LiveTail.GuardMs
        (if (next > gateOpen) next else next + t).toDouble
      }
    def dueMs(e: Ev): Double = if (p.rateHz > 0) origin + e.dueMs else origin
    if (p.rateHz > 0) {
      val slotMs = 1000L * p.events / p.rateHz / p.files
      in.files.indices.foreach { i =>
        val due = origin.toLong + (i + 1) * slotMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.writeFile(in, i, src, origin.toLong)
        tracer.add("generator.file", due.toDouble, Clock.nowMs) // its length is how late the generator ran
      }
      val lines = in.files.map(_.size.toLong).sum
      val deadline = System.currentTimeMillis() + 60000
      while (progress.batches(q.id).map(_.rows).sum < lines &&
             q.isActive && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        Instruments.drainBus(spark)
      }
      q.stop()
    } else
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    q.exception.foreach(e => errors += s"stream failed: ${e.getMessage}")
    Instruments.drainBus(spark)

    val batches = progress.batches(q.id)
    log(s"$tag drained: ${batches.size} batches; " + batches.map(b =>
      f"${b.phase("triggerExecution")}%.0f/${b.phase("addBatch")}%.0f/${b.rows}").mkString(" "))
    if (origin > gateOpen) tracer.add("generator.wait", gateOpen, origin)
    val drainSpan = tracer.add("drain", origin,
      batches.lastOption.map(_.publishMs).getOrElse(origin))
    batches.foreach { b =>
      val bs = tracer.add("batch", b.startMs, b.publishMs, drainSpan)
      var t = b.startMs
      Batch.Phases.filter(b.phases.map(_._1).contains).foreach { ph =>
        tracer.add(ph, t, t + b.phase(ph), bs); t += b.phase(ph)
      }
    }
    val lastPublish = batches.lastOption.map(_.publishMs).getOrElse(Clock.nowMs)
    val lag = try Stats.attributeLag(
      Stats.checkpointFileBatches(new File(ckpt)),
      batches.map(b => b.id -> b.publishMs).toMap,
      in.files.indices.map(i => Gen.fileName(i) -> in.files(i).filterNot(_.poison).map(dueMs)).toMap)
    catch { case e: IllegalStateException => errors += e.getMessage; Seq(0.0) }

    tracer.span("verify") {
      val planted = in.poison
      val dl = if (new File(dlq).exists()) spark.read.parquet(dlq).select("eventID").as[String]
        .collect().toSeq else Seq.empty
      val want = planted.filterNot(_.malformed).map(_.id).sorted
      val got = dl.filter(_ != null).sorted
      if (got != want || dl.count(_ == null) != planted.count(_.malformed))
        errors += s"dead-letter queue holds ${dl.size} rows (${got.size} identified); " +
          s"planted ${planted.size} (${want.size} identified)"
    }

    val ident = s"pb.$ns.$tag"
    // The scan is the end-state check: every one is checked. Right after
    // the drain, scans and lookups both ran 20-50% slower for several
    // seconds, by a different amount on every run, and the scan path was
    // still getting faster over the first few scans; so untimed scans and
    // an untimed lookup ramp come first. The timed scans and lookups then
    // alternate in rounds, so a short stall hits a few samples of each
    // rather than every sample of one.
    val scanDigests = mutable.ArrayBuffer.empty[(Long, BigDecimal)]
    def scan(): Double = {
      val (d, s) = secs(tracer.span("scan")(digest(spark.table(ident))))
      scanDigests += d
      s * 1000
    }
    var failedLookups = 0
    def lookup(k: String): Double = {
      val t = Clock.nowMs
      val rows = spark.sql(
        s"SELECT keys, sequenceNumber, newImage FROM $ident WHERE keys = :k",
        Map("k" -> k)).collect()
      val end = Clock.nowMs
      tracer.add("lookup", t, end)
      val got = rows.map(r => (r.getString(1), r.getString(2))).toSeq
      if (got != in.expected.get(k).toSeq) failedLookups += 1
      end - t
    }
    val keys = if (lookups) in.lookupKeys else Vector.empty
    val (ramp, timedKeys) = keys.splitAt(Runner.RampLookups)
    val rounds = timedKeys.grouped(math.max(1, math.ceil(timedKeys.size.toDouble / scans).toInt))
      .toVector.padTo(scans, Vector.empty[String])
    System.gc()
    (1 to Runner.UntimedScans).foreach(_ => scan())
    ramp.foreach(lookup)
    val scanMs = mutable.ArrayBuffer.empty[Double]
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    tracer.span("reads")(rounds.foreach { ks =>
      scanMs += scan()
      lookupMs ++= ks.map(lookup)
    })
    if (failedLookups > 0) errors += s"$failedLookups of ${keys.size} lookups returned a wrong row"
    scanDigests.distinct.filter(_ != prep.expected).foreach(d =>
      errors += s"end state $d differs from the batch LWW replay ${prep.expected}")
    val scanS = Stats.median(scanMs.toSeq) / 1000
    log(f"$tag verified; ${keys.size} lookups, ${scanDigests.size} scans; timed lookups' " +
      f"first/last ten median ${if (lookupMs.isEmpty) 0.0 else Stats.median(lookupMs.take(10).toSeq)}%.0f/" +
      f"${if (lookupMs.isEmpty) 0.0 else Stats.median(lookupMs.takeRight(10).toSeq)}%.0f ms")

    val stats = SnapshotStore.storeStats(spark, table)
    val heap = Instruments.heapAfterGcMb()
    val layers =
      if (!traced) Map.empty[String, Double]
      else layerMetrics(in, table, src.getPath, dlq, batches, gateOpen, lastPublish,
        restoreEnd - restoreStart, gateOpen - gateStart, lookupMs.toSeq)

    // the wait for the generator's first trigger instant holds no events,
    // so it is not part of convergence
    CycleResult(
      convergeS = (restoreEnd - restoreStart + gateOpen - gateStart + lastPublish - origin) / 1000.0,
      drainEventsPerS = in.validLines / math.max(1e-3, (lastPublish - origin) / 1000.0),
      lookupMs = lookupMs.toSeq, scanS = scanS,
      storeBytesPerKey = stats.map(_.dataBytes.toDouble).getOrElse(0.0) /
        math.max(1, in.expected.size),
      lagMs = lag, heapMb = heap, batches = batches.size,
      lookups = keys.size, lookupsFailed = failedLookups, errors = errors.toSeq, layers = layers)
  }

  /** Per-layer numbers, each measured from outside the layer by timing
    * a call into its public functions or reading Spark's own events.
    */
  private def layerMetrics(in: Inputs, table: String, src: String, dlq: String,
                           batches: Seq[Batch], gateOpen: Double, lastPublish: Double,
                           restoreMs: Double, gateMs: Double,
                           lookupMs: Seq[Double]): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("restore.snapshot_s") = restoreMs / 1000
    m("restore.gate_s") = gateMs / 1000
    m("streaming.source.latest_offset_ms") = med(batches.map(_.phase("latestOffset")))
    m("streaming.source.get_batch_ms") = med(batches.map(_.phase("getBatch")))
    m("streaming.source.rows_per_batch") = med(batches.map(_.rows.toDouble))
    m("streaming.sink.batches") = batches.size
    m("streaming.sink.add_batch_ms_p50") = med(batches.map(_.phase("addBatch")))
    m("streaming.sink.add_batch_ms_sum") = batches.map(_.phase("addBatch")).sum
    m("streaming.sink.wal_commit_ms") = med(batches.map(_.phase("walCommit")))
    jobs.foreach { jl =>
      val a = batches.headOption.map(_.startMs).getOrElse(gateOpen)
      val tasks = jl.tasksIn(a, lastPublish)
      val n = math.max(1, batches.size)
      m("streaming.sink.jobs_per_batch") = jl.jobsIn(a, lastPublish).toDouble / n
      m("streaming.sink.tasks_per_batch") = tasks.size.toDouble / n
      m("streaming.sink.shuffle_write_bytes") = tasks.map(_.shuffleWriteBytes).sum.toDouble
      m("streaming.sink.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      m("streaming.sink.gc_s") = tasks.map(_.gcMs).sum / 1e3
    }
    m("streaming.sink.dlq_rows") =
      if (new File(dlq).exists()) spark.read.parquet(dlq).count().toDouble else 0.0

    tracer.span("ops.compact_delta") {
      val raw = spark.read.schema(CdcSchema.cdcRecord).json(src)
        .filter(!CdcStream.isPoison).cache()
      val rowsIn = raw.count()
      val (rowsOut, s) = secs(CdcStream.compactDelta(raw).count())
      raw.unpersist()
      m("ops.compact_delta_s") = s
      m("ops.rows_in") = rowsIn.toDouble
      m("ops.rows_out") = rowsOut.toDouble
      m("ops.useful_ratio") = rowsOut.toDouble / math.max(1, rowsIn)
    }

    tracer.span("store") {
      SnapshotStore.storeStats(spark, table).foreach { s =>
        m("streaming.store.segments") = s.totalSegments
        m("streaming.store.max_chain") = s.maxChainLength
        m("streaming.store.versions") = s.retainedVersions
        m("streaming.store.data_bytes") = s.dataBytes.toDouble
      }
      m("streaming.store.read_amp_ppm") = SnapshotStore.amplificationReport(spark, table)
        .map(_.amplificationPpm.toDouble).getOrElse(0.0)
      // the keys of the first measured SQL lookups, for the overhead below
      val readKeysMs = in.lookupKeys.slice(Runner.RampLookups,
          Runner.RampLookups + Runner.ReadKeysSamples).map { k =>
        val t = Clock.nowMs
        SnapshotStore.readKeys(spark, table, Seq(k)).collect()
        val end = Clock.nowMs
        tracer.add("read_keys", t, end)
        end - t
      }
      m("streaming.store.read_keys_ms") = med(readKeysMs)
      val pubs = batches.map(_.publishMs)
      m("streaming.store.commit_interval_ms") =
        med(pubs.zip(pubs.drop(1)).map { case (a, b) => b - a })
      m("sources.lookup_overhead_ms") = med(lookupMs.take(Runner.ReadKeysSamples)) - med(readKeysMs)
    }
    m.toMap
  }
}
