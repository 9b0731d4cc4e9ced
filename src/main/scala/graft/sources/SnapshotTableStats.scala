package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{CommitProtocol, SnapshotStore}

/** ANALYZE-style table statistics for graft-snapshot tables (r13,
  * VERDICT r12 #4): the engine computes column profiles and histograms
  * as QUERIES (`profile_columns`, `profile_equidepth_hist`), but
  * Spark's planner never saw them — a V2 relation's only signal was
  * the segment-file byte sum, which OVERCOUNTS the resolved state by
  * the whole superseded-row history (an LWW chain of 20 generations
  * reports ~20× its live size, and a broadcastable dimension
  * sort-merges). `analyze` measures the RESOLVED state once —
  * row count, in-memory byte estimate, and per-column NDV / null count
  * / min / max in ONE aggregate pass over the V2 read face (projected
  * columns included) — and persists it as a `_STATS` meta file, pinned
  * to the manifest version it measured. [[SnapshotScan]] serves these
  * through `SupportsReportStatistics` (numRows + columnStats + the
  * honest sizeInBytes) ONLY while the pinned version is still the
  * scan's version: any write invalidates the stats rather than serving
  * a stale row count (classic ANALYZE staleness, but fail-safe —
  * degraded back to file-size stats, never wrong).
  *
  * SQL face: `CALL graft.system.analyze('ns.t')` through the V2
  * ProcedureCatalog (Spark's own `ANALYZE TABLE` statement does not
  * route to v2 catalogs).
  *
  * min/max are recorded in `_STATS` for numeric projected columns (for
  * operators and debugging) but deliberately NOT reported through the
  * connector columnStats API — NDV and null count are the
  * join-selectivity inputs, and min/max would have to round-trip
  * Catalyst's internal value types to be safe.
  */
object SnapshotTableStats {
  private val FileName = "_STATS"
  private val NumericTypes = Set("bigint", "int", "double")

  /** Incremental maintenance (r14, VERDICT r13 #4): HLL precision for
    * the per-column NDV sketches persisted alongside the exact ANALYZE
    * numbers. p=12 → m=4096 registers (4 KB/column packed): standard
    * error 1.04/√m ≈ 1.6%. THE NDV ERROR CONTRACT after any fold:
    * served NDV is the HLL estimate — ±~1.6% expected relative error
    * (with linear-counting correction below 2.5·m), and register
    * monotonicity means DELETIONS NEVER SHRINK it until the next full
    * ANALYZE resets to exact. Row/byte/null-count folds are exact (from
    * the pre/post point reads), modulo the op column's octet share
    * being carried at 3 B/row.
    */
  val SketchP: Int = 12
  private val SketchM: Int = 1 << SketchP
  private val SketchW: Int = 60 - SketchP
  /** Columns the fold maintains — the store's canonical resolved shape
    * ([[graft.streaming.SnapshotStore.readKeysDf]] output). `op` is a
    * near-constant live-row marker (stats carried from ANALYZE);
    * projected columns disable maintenance entirely (their values
    * derive from newImage and are not visible to the store layer).
    */
  val MaintainedCols: Seq[String] = Seq("keys", "sequenceNumber", "newImage")

  final case class ColStat(name: String, typ: String, ndv: Long, nulls: Long,
                           min: Option[String], max: Option[String],
                           regs: Option[Array[Byte]] = None)
  final case class TableStats(version: String, rows: Long, bytes: Long,
                              cols: Seq[ColStat], exact: Boolean = true)

  /** The cross-engine 60-bit hash discipline (the A20 shape) — here
    * driver-consumed only, so nulls may collapse onto the 0 hash (≤1
    * NDV perturbation, under the sketch's own error). */
  private def hash60(name: String) = coalesce(
    expr(s"cast(conv(substring(md5(cast(`$name` as string)), 1, 15), 16, 10) as long)"),
    lit(0L))

  private def hllAgg = udaf(new graft.functions.HllRegistersAgg(SketchP),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())

  /** HLL estimate from packed registers, WITH the small-range
    * linear-counting correction (Heule et al. 2013) — unlike the
    * oracle-gated A20 query this is driver-side planner input, so ln is
    * fine. */
  def hllEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var s = 0.0; var zeros = 0
    regs.foreach { r =>
      s += math.pow(2.0, -r.toDouble)
      if (r == 0) zeros += 1
    }
    val raw = alpha * m * m / s
    val e = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
            else raw
    math.max(0L, math.round(e))
  }

  private def packRegs(longs: Seq[Long]): Array[Byte] =
    longs.map(l => math.min(l, 127L).toByte).toArray
  private def mergeRegs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    // fail LOUDLY on a width mismatch (a _STATS file from a different
    // SketchP, or a corrupt base64 field that still decodes): zip would
    // silently truncate and serve a wrong NDV to the planner — the
    // fold's catch turns this into the standard stats-degrade path
    require(a.length == b.length,
      s"HLL register width mismatch: ${a.length} vs ${b.length} — re-ANALYZE")
    a.zip(b).map { case (x, y) => if (x >= y) x else y }
  }

  /** One-pass stats contribution of a resolved-rows frame in the
    * canonical (keys, sequenceNumber, newImage) shape: row count, byte
    * estimate, per-column null counts, and (when `withSketch`) HLL
    * registers of each column's values. The `op` column of the resolved
    * face is a constant-width live marker: carried at 3 octets/row.
    */
  final case class Contribution(n: Long, bytes: Long,
                                nulls: Map[String, Long],
                                regs: Map[String, Array[Byte]])

  def contribution(df: org.apache.spark.sql.DataFrame,
                   withSketch: Boolean): Contribution = {
    val rowBytes = MaintainedCols.map(c =>
      coalesce(octet_length(col(c).cast("string")).cast("long"), lit(0L)))
      .reduce(_ + _) + lit(3L + 16L)
    val aggs = Seq(count(lit(1)).as("n"),
      coalesce(sum(rowBytes), lit(0L)).as("bytes")) ++
      MaintainedCols.map(c => count(col(c)).as(s"nn_$c")) ++
      (if (withSketch) MaintainedCols.map(c => hllAgg(hash60(c)).as(s"rg_$c"))
       else Nil)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(r.fieldIndex("n"))
    Contribution(n,
      r.getLong(r.fieldIndex("bytes")),
      MaintainedCols.map(c => c -> (n - r.getLong(r.fieldIndex(s"nn_$c")))).toMap,
      if (!withSketch) Map.empty
      else MaintainedCols.map(c =>
        c -> packRegs(r.getSeq[Long](r.fieldIndex(s"rg_$c")))).toMap)
  }

  /** Whether `_STATS` at `dir` is LIVE against `basisVersion` and
    * foldable: carries sketches for every maintained column, and the
    * table has no projected columns (their byte/NDV shares are not
    * separable at the store layer — ALTERed tables degrade to the
    * pre-r14 behavior, re-ANALYZE to refresh).
    */
  def maintainable(conf: Configuration, dir: String,
                   basisVersion: String): Option[TableStats] =
    read(conf, dir)
      .filter(_.version == basisVersion)
      // The maintained columns must be catalog-typed STRING: contribution()
      // costs every value at octet_length(cast(c as string)) while
      // analyze() charges fixed-width scalars at 8 B, so a non-string
      // sequenceNumber/newImage would fold byte deltas on a different
      // cost model than the ANALYZE baseline and drift the planner's size
      // estimate across folds. Degrade to the fail-safe re-ANALYZE path
      // instead (r14 advisor).
      .filter(st => MaintainedCols.forall(c =>
        st.cols.exists(cs => cs.name == c && cs.typ == "string" &&
          cs.regs.exists(_.length == SketchM))))
      .filter(_ => SnapshotProjectedColumns.read(conf, dir).isEmpty)

  /** Fold one publish's pre/post contributions into live stats and
    * re-pin them to `newVersion`: rows/bytes/null counts adjust exactly
    * (state delta = post − pre over exactly the touched keys); NDV
    * becomes the register-merged HLL estimate (error contract at
    * [[SketchP]]); min/max are dropped for maintained columns (a
    * deletion can retract an extremum — serving a stale one would be
    * wrong in the unsafe direction); untouched columns (`op`,
    * ANALYZE-time extras) carry forward.
    */
  def fold(spark: SparkSession, dir: String, st: TableStats,
           pre: Contribution, post: Contribution,
           newVersion: String): TableStats = {
    val cols = st.cols.map { c =>
      if (!MaintainedCols.contains(c.name)) c
      else {
        val merged = c.regs.map(r => mergeRegs(r, post.regs(c.name)))
        c.copy(
          ndv = merged.fold(c.ndv)(hllEstimate),
          nulls = math.max(0L,
            c.nulls - pre.nulls(c.name) + post.nulls(c.name)),
          min = None, max = None,
          regs = merged)
      }
    }
    val folded = TableStats(newVersion,
      rows = math.max(0L, st.rows - pre.n + post.n),
      bytes = math.max(0L, st.bytes - pre.bytes + post.bytes),
      cols = cols, exact = false)
    writeLocked(spark, dir, folded)
    folded
  }

  /** Re-pin live stats to a new version WITHOUT changing the numbers —
    * the state-preserving maintenance case (full compaction rewrites
    * segments but resolves to the identical rows).
    */
  def repin(spark: SparkSession, dir: String, st: TableStats,
            newVersion: String): Unit =
    writeLocked(spark, dir, st.copy(version = newVersion))

  /** Measure the resolved state and persist `_STATS` (replaced through
    * the target's commit protocol). One aggregate pass;
    * NDV is EXACT (count_distinct) — ANALYZE is control-plane cadence
    * and an approximate NDV would make broadcast decisions depend on
    * sketch error.
    */
  def analyze(spark: SparkSession, dir: String): TableStats = {
    val version = SnapshotStore.pointerValue(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"ANALYZE: '$dir' has no committed version to measure"))
    val df = spark.read.format("graft-snapshot").load(dir)
    val fields = df.schema.fields.toSeq
    // in-memory size estimate of the resolved rows: octet lengths for
    // strings, 8 B for fixed-width scalars, + 16 B/row object overhead
    val rowBytes = fields.map { f =>
      if (f.dataType.catalogString == "string")
        coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
      else lit(8L)
    }.reduce(_ + _) + lit(16L)
    val aggs = Seq(count(lit(1)).as("n"), sum(rowBytes).as("bytes")) ++
      fields.flatMap { f =>
        val base = Seq(
          count_distinct(col(f.name)).as(s"ndv_${f.name}"),
          count(col(f.name)).as(s"nn_${f.name}"))
        if (NumericTypes.contains(f.dataType.catalogString))
          base ++ Seq(min(col(f.name)).cast("string").as(s"mn_${f.name}"),
            max(col(f.name)).cast("string").as(s"mx_${f.name}"))
        else base
      } ++
      // HLL registers for the maintainable columns (r14): ANALYZE stays
      // exact; the sketches are the mergeable basis later publish folds
      // build on (see the SketchP error contract)
      MaintainedCols.filter(c => fields.exists(_.name == c))
        .map(c => hllAgg(hash60(c)).as(s"rg_$c"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(r.fieldIndex("n"))
    val bytes = if (r.isNullAt(r.fieldIndex("bytes"))) 0L
      else r.getLong(r.fieldIndex("bytes"))
    val cols = fields.map { f =>
      def opt(n: String): Option[String] =
        if (!r.schema.fieldNames.contains(n) || r.isNullAt(r.fieldIndex(n)))
          None
        else Some(r.getString(r.fieldIndex(n)))
      ColStat(f.name, f.dataType.catalogString,
        ndv = r.getLong(r.fieldIndex(s"ndv_${f.name}")),
        nulls = rows - r.getLong(r.fieldIndex(s"nn_${f.name}")),
        min = opt(s"mn_${f.name}"), max = opt(s"mx_${f.name}"),
        regs = if (r.schema.fieldNames.contains(s"rg_${f.name}"))
          Some(packRegs(r.getSeq[Long](r.fieldIndex(s"rg_${f.name}"))))
        else None)
    }
    val stats = TableStats(version, rows, bytes, cols)
    SnapshotStore.replaceMeta(spark, dir, FileName, render(stats))
    stats
  }

  /** The `_STATS` line format: `version`, `mode` and `table` lines, then
    * one `col` line per column (HLL registers base64-encoded).
    */
  private def render(st: TableStats): String =
    (Seq(s"version\t${st.version}",
      s"mode\t${if (st.exact) "exact" else "incremental"}",
      s"table\t${st.rows}\t${st.bytes}") ++
      st.cols.map(c => s"col\t${c.name}\t${c.typ}\t${c.ndv}\t${c.nulls}" +
        s"\t${c.min.getOrElse("")}\t${c.max.getOrElse("")}" +
        s"\t${c.regs.map(java.util.Base64.getEncoder.encodeToString).getOrElse("")}"))
      .mkString("\n")

  /** Replace `_STATS` from inside a publish (the caller holds the
    * target's writer lock). */
  private def writeLocked(spark: SparkSession, dir: String, st: TableStats): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitProtocol.forTarget(spark, fs, root).replace(fs, root, FileName, render(st))
  }

  def read(conf: Configuration, dir: String): Option[TableStats] = {
    try {
      val root = new Path(dir)
      val txt = CommitProtocol.read(root.getFileSystem(conf), root, FileName)
        .getOrElse(return None)
      val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
      val version = lines.collectFirst {
        case l if l.startsWith("version\t") => l.split("\t", 2)(1)
      }.getOrElse(return None)
      val (rows, bytes) = lines.collectFirst {
        case l if l.startsWith("table\t") =>
          val a = l.split("\t"); (a(1).toLong, a(2).toLong)
      }.getOrElse(return None)
      val exact = lines.collectFirst {
        case l if l.startsWith("mode\t") => l.split("\t", 2)(1) == "exact"
      }.getOrElse(true) // pre-r14 files carry no mode line: exact
      val cols = lines.filter(_.startsWith("col\t")).map { l =>
        val a = l.split("\t", 8)
        ColStat(a(1), a(2), a(3).toLong, a(4).toLong,
          if (a.length > 5 && a(5).nonEmpty) Some(a(5)) else None,
          if (a.length > 6 && a(6).nonEmpty) Some(a(6)) else None,
          if (a.length > 7 && a(7).nonEmpty)
            Some(java.util.Base64.getDecoder.decode(a(7)))
          else None)
      }
      Some(TableStats(version, rows, bytes, cols, exact))
    } catch { case _: Exception => None } // malformed/unreadable: no stats
  }
}
