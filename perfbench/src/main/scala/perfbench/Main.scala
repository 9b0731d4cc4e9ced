package perfbench

import java.io.{File, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload run in a fresh `local[cores]`
  * session. Prints one JSON result line on stdout, last; everything else
  * goes to stderr or to files under `--out`.
  *
  * {{{
  *   Main --workload pitr_drill --seed 1 --seconds 20 --trace 0 \
  *        --cores 4 --work <scratch dir> --out <results dir> \
  *        --data <query slice tables> --digests <query slice digests>
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: File, out: File, data: File, digests: File)

  /** End-to-end metrics (name, unit), printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "converge_s" -> "s", "drain_events_per_s" -> "1/s",
    "lookup_p50_ms" -> "ms", "lookup_p75_ms" -> "ms", "scan_s" -> "s",
    "store_bytes_per_key" -> "B", "tail_lag_p50_ms" -> "ms",
    "tail_lag_p99_ms" -> "ms", "heap_after_gc_mb" -> "MB")

  /** Per-layer metrics (name, unit), printed by every traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.warmup_s" -> "s", "session.input_gen_s" -> "s",
    "restore.snapshot_s" -> "s", "restore.gate_s" -> "s",
    "streaming.source.latest_offset_ms" -> "ms", "streaming.source.get_batch_ms" -> "ms",
    "streaming.source.rows_per_batch" -> "count",
    "streaming.sink.batches" -> "count", "streaming.sink.add_batch_ms_p50" -> "ms",
    "streaming.sink.add_batch_ms_sum" -> "ms", "streaming.sink.wal_commit_ms" -> "ms",
    "streaming.sink.jobs_per_batch" -> "count", "streaming.sink.tasks_per_batch" -> "count",
    "streaming.sink.shuffle_write_bytes" -> "B", "streaming.sink.cpu_s" -> "s",
    "streaming.sink.gc_s" -> "s", "streaming.sink.dlq_rows" -> "count",
    "ops.compact_delta_s" -> "s", "ops.rows_in" -> "count", "ops.rows_out" -> "count",
    "ops.useful_ratio" -> "ratio",
    "streaming.store.segments" -> "count", "streaming.store.max_chain" -> "count",
    "streaming.store.versions" -> "count", "streaming.store.data_bytes" -> "B",
    "streaming.store.read_amp_ppm" -> "ppm", "streaming.store.read_keys_ms" -> "ms",
    "streaming.store.commit_interval_ms" -> "ms", "sources.lookup_overhead_ms" -> "ms",
    "baseline.local1_converge_s" -> "s") ++ QuerySlice.PerLayer

  val PrepareRepeats = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, new File(get("work")), new File(get("out")),
      new File(get("data")), new File(get("digests")))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.pb", "graft.sources.SnapshotCatalog")
      .config("spark.sql.catalog.pb.root", new File(work, "tables").getPath))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, String, Double)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload.named(o.workload)
    deleteTree(o.work); o.work.mkdirs(); o.out.mkdirs()
    val (ok, line) =
      try run(o, w)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${w.name} failed: $e")
          e.printStackTrace()
          (false, resultJson(correct = false, 1, 1, Nil))
      }
    deleteTree(o.work)
    println(line)
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def run(o: Opts, w: Workload): (Boolean, String) = {
    val runId = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val tracer = new Tracer(runId)
    val t0 = Clock.nowMs
    var spark = session(o.cores, o.work)
    val startS = (Clock.nowMs - t0) / 1000
    tracer.add("session.start", t0, Clock.nowMs)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (o.trace) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)

    val runner = new Runner(spark, o.work, o.seed, progress, jobs, tracer)
    val tw = Clock.nowMs
    val warm = tracer.span("warmup")(
      runner.cycle(w, runner.prepare(w, Workload.Warmup, "warmup"), 0, traced = false,
        lookups = true, scans = 3))
    val warmupS = (Clock.nowMs - tw) / 1000
    require(warm.errors.isEmpty, s"warm-up failed: ${warm.errors.mkString("; ")}")
    // input generation is the part of set-up that repeats cheaply: do it
    // PrepareRepeats times and report the median
    val preps = (1 to PrepareRepeats).map(i => runner.prepare(w, w.params, s"p$i"))
    val genS = Stats.median(preps.map(_.genS))
    val setupS = startS + warmupS + genS
    val probeBefore = Instruments.probe(spark)

    val measureStart = Clock.nowMs
    val cycles = mutable.ArrayBuffer.empty[CycleResult]
    while (cycles.isEmpty || (Clock.nowMs - measureStart) / 1000 < o.seconds)
      cycles += runner.cycle(w, preps.last, cycles.size + 1, traced = o.trace, lookups = true)
    val probeAfter = Instruments.probe(spark)

    val measured = cycles.toSeq
    val errors = measured.flatMap(_.errors)
    val attempted = measured.map(c => c.lookups + c.batches).sum.toLong
    // a failed end-state, dead-letter or stream check fails every
    // operation of its cycle; otherwise only wrong lookups fail
    val failed = measured.map { c =>
      if (c.errors.size > c.lookupsFailed.sign) c.lookups + c.batches else c.lookupsFailed
    }.sum.toLong
    errors.foreach(e => System.err.println(s"[perfbench] correctness: $e"))

    // the run record: the probe readings beside the end-to-end values (of
    // the traced cycles on a traced run, for the tracing overhead)
    def record(ok: Boolean, e2e: Seq[(String, String, Double)]): Unit = {
      val line = s"""{"workload": "${w.name}", "seed": ${o.seed}, "trace": ${if (o.trace) 1 else 0}, """ +
        s""""cores": ${o.cores}, "probe_before_s": $probeBefore, "probe_after_s": $probeAfter, """ +
        s""""cycles": ${measured.size}, "correct": $ok, "e2e": {""" +
        e2e.map { case (n, _, v) => s""""$n": $v""" }.mkString(", ") + "}}"
      System.err.println(s"[perfbench] $line")
      val fw = new FileWriter(new File(o.out, "runs.jsonl"), true)
      try fw.write(line + "\n") finally fw.close()
    }
    if (errors.nonEmpty || failed > 0) {
      record(ok = false, Nil)
      return (false, resultJson(correct = false, attempted, failed, Nil))
    }

    val med = (f: CycleResult => Double) => Stats.median(measured.map(f))
    val look = measured.flatMap(_.lookupMs)
    val lag = measured.flatMap(_.lagMs)
    val e2eValues = Map(
      "setup_s" -> setupS,
      "converge_s" -> med(_.convergeS),
      "drain_events_per_s" -> med(_.drainEventsPerS),
      "lookup_p50_ms" -> Stats.median(look),
      "lookup_p75_ms" -> Stats.tail(look, 75),
      "scan_s" -> med(_.scanS),
      "store_bytes_per_key" -> med(_.storeBytesPerKey),
      "tail_lag_p50_ms" -> Stats.median(lag),
      "tail_lag_p99_ms" -> Stats.tail(lag, 99),
      "heap_after_gc_mb" -> measured.map(_.heapMb).max)
    val endToEnd = EndToEnd.map { case (n, u) => (n, u, e2eValues(n)) }
    record(ok = true, endToEnd)
    if (!o.trace) { spark.stop(); return (true, resultJson(correct = true, attempted, failed, endToEnd)) }

    // the query slice: one pass, its session memos cold (no cycle uses them)
    val slice = QuerySlice.run(spark, o.data, tracer)
    Instruments.drainBus(spark)
    val sliceErrors = QuerySlice.check(slice, QuerySlice.readDigests(o.digests))
    sliceErrors.foreach(e => System.err.println(s"[perfbench] correctness: $e"))
    if (sliceErrors.nonEmpty) {
      spark.stop()
      return (false, resultJson(correct = false, attempted + slice.size, failed + sliceErrors.size, Nil))
    }
    val sliceLayers = QuerySlice.layers(spark, slice, jobs.get)

    // single-thread baseline: the same cycle in a local[1] session
    spark.stop()
    spark = session(1, o.work)
    val p1 = new ProgressLog
    spark.streams.addListener(p1)
    val base = new Runner(spark, o.work, o.seed, p1, None, new Tracer(runId + "-local1"))
      .cycle(w, preps.last, 99, traced = false, lookups = false, scans = 1)
    spark.stop()
    if (base.errors.nonEmpty) return (false, resultJson(correct = false, attempted + 1, 1, Nil))
    val layer = measured.flatMap(_.layers.keys).distinct.map { k =>
      k -> Stats.median(measured.flatMap(_.layers.get(k)))
    }.toMap ++ sliceLayers ++ Map(
      "session.start_s" -> startS, "session.warmup_s" -> warmupS,
      "session.input_gen_s" -> genS, "baseline.local1_converge_s" -> base.convergeS)
    writeTrace(new File(o.out, s"trace-$runId.json"), runId, tracer)
    (true, resultJson(correct = true, attempted + slice.size, failed, PerLayer.map { case (n, u) => (n, u, layer(n)) }))
  }

  /** Write the spans, their self times summed per name, and how much of
    * each measured cycle's converge_s the restore, gate and batch spans
    * cover (the rest is query start-up and gaps between batches).
    */
  private def writeTrace(f: File, runId: String, tracer: Tracer): Unit = {
    val spans = tracer.spans
    val self = Spans.selfTimes(spans)
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s""""$n": {"count": ${ss.size}, "total_ms": ${ss.map(_.durMs).sum}, "self_ms": ${ss.map(s => self(s.id)).sum}}"""
    }
    val warmups = spans.filter(_.name == "warmup").map(_.id).toSet
    val cover = spans.filter(c => c.name == "cycle" && !warmups(c.parent)).flatMap { c =>
      val kids = spans.filter(_.parent == c.id)
      def ms(n: String) = kids.filter(_.name == n).map(_.durMs).sum
      kids.find(_.name == "drain").map { d =>
        val batches = spans.filter(s => s.parent == d.id && s.name == "batch").map(_.durMs).sum
        s"""{"converge_ms": ${ms("restore") + ms("gate") + d.durMs}, "restore_ms": ${ms("restore")}, "gate_ms": ${ms("gate")}, "batch_ms": $batches}"""
      }
    }
    val spanJson = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${self(s.id)}, "run": "${s.run}"}""")
    val fw = new FileWriter(f)
    try fw.write(
      s"""{"run": "$runId",
         |"converge_cover": [${cover.mkString(", ")}],
         |"by_name": {${byName.mkString(",\n")}},
         |"spans": [${spanJson.mkString(",\n")}]}
         |""".stripMargin)
    finally fw.close()
    System.err.println(s"[perfbench] trace written to $f")
  }
}
