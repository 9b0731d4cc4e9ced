package perfbench

import java.io.{File, FileWriter}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{MemoTimings, SparkEntry}
import graft.analytics.DedupQueries
import graft.queries.{CdcQueries, RelationalQueries}

/** A slice of the query registry, run once per traced run over the fixed
  * tables in `perfbench/data`, with its session memos cold: part of the
  * `cdc_*` family (the reference's query surface, executor-bound) and two
  * connected-component kernels (bound by plan building and job
  * scheduling). Each query is built (`SparkEntry.queries(name)(spark,
  * dir)`, which runs the jobs an iterative kernel needs to construct its
  * plan) and then executed to an order-independent digest, which must
  * equal the one recorded in `perfbench/query_digests.txt`.
  *
  * Recording the digests (after checking the same queries against DuckDB
  * with `graft.Verify` and `tools/compare.py`, see METRICS.md):
  * {{{
  *   java -cp <classpath> perfbench.QuerySlice perfbench/data perfbench/query_digests.txt
  * }}}
  */
object QuerySlice {
  val Cdc = Seq("cdc_restore_replay", "cdc_lww_compact", "cdc_dedup", "cdc_apply_plan",
    "cdc_scd2_history")
  val Kernels = Seq("graph_components", "dedup_cluster")
  val Names: Seq[String] = Cdc ++ Kernels

  /** Per-module layer metric stems, in registry module order. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "queries.cdc" -> CdcQueries.all.map(_.name).toSet,
    "queries.relational" -> RelationalQueries.all.map(_.name).toSet,
    "analytics.dedup" -> DedupQueries.all.map(_.name).toSet)

  /** The per-module metrics (suffix, unit). */
  val ModuleMetrics: Seq[(String, String)] = Seq(
    "build_s" -> "s", "exec_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "driver_s" -> "s", "shuffle_bytes" -> "B", "spill_bytes" -> "B",
    "cpu_s" -> "s", "gc_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    Modules.flatMap { case (m, _) => ModuleMetrics.map { case (k, u) => s"$m.$k" -> u } } ++
      Seq("memo.build_s" -> "s", "memo.storage_mb" -> "MB", "queries.total_s" -> "s")

  /** One query's measurements; `digest` is (rows, sum of row hashes). */
  final case class QueryRun(name: String, startMs: Double, builtMs: Double, endMs: Double,
                            digest: (Long, BigDecimal))

  /** Order-independent digest: the row count and the exact sum of
    * per-row `xxhash64` over every column cast to string, columns in
    * name order (the order the DuckDB comparison also sorts them by).
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(c => s"cast(`$c` AS string)").mkString(", ")
    val r = df.selectExpr("count(*) AS n",
      s"sum(cast(xxhash64($cols) AS decimal(38,0))) AS h").collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Build and execute every query of the slice, in order, timing each. */
  def run(spark: SparkSession, data: File, tracer: Tracer): Seq[QueryRun] =
    tracer.span("query_slice") {
      Names.map { n =>
        tracer.span(s"query") {
          val t0 = Clock.nowMs
          val df = tracer.span("query.build")(SparkEntry.queries(n)(spark, data.getPath))
          val t1 = Clock.nowMs
          val d = tracer.span("query.exec")(digest(df))
          QueryRun(n, t0, t1, Clock.nowMs, d)
        }
      }
    }

  def readDigests(f: File): Map[String, (Long, BigDecimal)] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, h) = l.split("\\s+")
      n -> (rows.toLong, BigDecimal(h))
    }.toMap
    finally src.close()
  }

  /** A message per query whose digest differs from the recorded one. */
  def check(runs: Seq[QueryRun], want: Map[String, (Long, BigDecimal)]): Seq[String] =
    runs.flatMap { r =>
      want.get(r.name) match {
        case None => Some(s"${r.name}: no recorded digest")
        case Some(d) if d != r.digest => Some(s"${r.name}: digest ${r.digest} differs from the recorded $d")
        case _ => None
      }
    }

  /** Per-module layer metrics from the timed runs and Spark's job and
    * task events; `memo.*` from the session's memo timings and the block
    * manager's storage after the slice.
    */
  def layers(spark: SparkSession, runs: Seq[QueryRun], jobs: JobLog): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Modules.foreach { case (mod, names) =>
      val rs = runs.filter(r => names(r.name))
      val tasks = rs.flatMap(r => jobs.tasksIn(r.startMs, r.endMs))
      val wall = rs.map(r => r.endMs - r.startMs).sum
      val busy = rs.map(r => Spans.covered(jobs.jobIntervals, r.startMs, r.endMs)).sum
      m(s"$mod.build_s") = rs.map(r => r.builtMs - r.startMs).sum / 1000
      m(s"$mod.exec_s") = rs.map(r => r.endMs - r.builtMs).sum / 1000
      m(s"$mod.jobs") = rs.map(r => jobs.jobsIn(r.startMs, r.endMs)).sum.toDouble
      m(s"$mod.tasks") = tasks.size.toDouble
      m(s"$mod.driver_s") = (wall - busy) / 1000
      m(s"$mod.shuffle_bytes") = tasks.map(_.shuffleWriteBytes).sum.toDouble
      m(s"$mod.spill_bytes") = tasks.map(_.spillBytes).sum.toDouble
      m(s"$mod.cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      m(s"$mod.gc_s") = tasks.map(_.gcMs).sum / 1e3
    }
    m("memo.build_s") = MemoTimings.snapshot(spark.sparkContext.applicationId).values.sum
    m("memo.storage_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    m("queries.total_s") = runs.map(r => r.endMs - r.startMs).sum / 1000
    m.toMap
  }

  /** Record the slice's digests over `args(0)` into `args(1)`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: QuerySlice <data dir> <digest file>")
    val work = java.nio.file.Files.createTempDirectory("perfbench-slice").toFile
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    val runs = try run(spark, new File(args(0)), new Tracer("record")) finally spark.stop()
    val fw = new FileWriter(args(1))
    try {
      fw.write("# query rows sum(xxhash64(columns as strings, in name order))\n")
      runs.foreach(r => fw.write(s"${r.name} ${r.digest._1} ${r.digest._2}\n"))
    } finally fw.close()
    runs.foreach(r => System.err.println(
      f"${r.name}%-22s build ${(r.builtMs - r.startMs) / 1000}%6.2f s  exec ${(r.endMs - r.builtMs) / 1000}%6.2f s"))
  }
}
