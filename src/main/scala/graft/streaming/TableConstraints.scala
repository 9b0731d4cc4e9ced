package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Declared CHECK-style write-time constraints (r15, VERDICT r14 #6):
  * dq_scorecard measures completeness/uniqueness/freshness AFTER the
  * fact — this closes the loop by ENFORCING declared row predicates at
  * write time, with QUARANTINE-instead-of-reject (the deadletter
  * discipline): a violating row never reaches the table, never kills
  * the batch, and never disappears — it lands in the quarantine path
  * with the violated constraint's name and the batch id as its audit
  * row, while the clean remainder merges normally.
  *
  * Semantics are SQL-standard CHECK: a constraint is violated only when
  * its expression evaluates FALSE — NULL/unknown PASSES (callers that
  * want required-field semantics spell `coalesce(expr, false)`).
  * REMOVE events carry no image and are never checked (a delete cannot
  * violate a row predicate). Expressions evaluate over the canonical
  * CDC columns (`keys`, `eventName`, `sequenceNumber`, `newImage`) —
  * image fields via `get_json_object(newImage, '$.field')`, the
  * projected-column idiom.
  *
  * Declarations persist as a `_CONSTRAINTS` metadata file next to the
  * table (tab-separated name\texpr; replaced through the target's
  * [[CommitProtocol]], like every metadata file), so every writer
  * of the target enforces the same contract. [[declare]] ANALYZES each
  * expression against the canonical schema first: a typo'd constraint
  * fails loudly at declaration, not silently at enforcement (the
  * invalid-condition lesson from conditional writes).
  *
  * Reference anchor: the reference applies items unconditionally
  * (`app/lambdas/lambda-backfill/main.py:41-46`) and parks failures in
  * a DLQ (`cdk/lib/cdk-stack.ts:52-63`) — quarantine-not-reject is the
  * same posture lifted to declared data-quality predicates.
  */
object TableConstraints {

  final case class Check(name: String, expr: String)

  private val FileName = "_CONSTRAINTS"

  def read(conf: Configuration, dir: String): Seq[Check] = {
    val root = new Path(dir)
    CommitProtocol.read(root.getFileSystem(conf), root, FileName).toSeq
      .flatMap(_.linesIterator).filter(_.nonEmpty).map { line =>
        val Array(n, e) = line.split("\t", 2)
        Check(n, e)
      }
  }

  /** Declare (replace) the target's constraint set. Validates loudly:
    * names unique and non-empty, and every expression must ANALYZE as a
    * boolean over the canonical CDC schema.
    */
  def declare(spark: SparkSession, dir: String, checks: Seq[Check]): Unit = {
    require(checks.forall(_.name.nonEmpty), "constraint names must be non-empty")
    require(checks.map(_.name).distinct.size == checks.size,
      s"duplicate constraint names: ${checks.map(_.name).mkString(", ")}")
    // Names may contain neither tab NOR newline (and exprs no newline):
    // a '\n' in a name would serialize as a corrupt _CONSTRAINTS line
    // that read() only crashes on inside a later micro-batch — the
    // fail-at-enforcement inversion this method exists to prevent.
    require(checks.forall(c => !c.name.exists(ch => ch == '\t' || ch == '\n'
        || ch == '\r') && !c.expr.exists(ch => ch == '\n' || ch == '\r')),
      "constraint names must not contain tabs or line breaks; " +
        "expressions must be single-line")
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "keys STRING, eventName STRING, sequenceNumber STRING, newImage STRING"))
    checks.foreach { c =>
      val dt = try probe.select(expr(c.expr)).schema.head.dataType
      catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"constraint '${c.name}' does not analyze over the canonical CDC " +
            s"schema: ${e.getMessage}", e)
      }
      require(dt == org.apache.spark.sql.types.BooleanType,
        s"constraint '${c.name}' must be BOOLEAN, got ${dt.catalogString}")
    }
    SnapshotStore.replaceMeta(spark, dir, FileName,
      checks.map(c => s"${c.name}\t${c.expr}").mkString("\n"))
  }

  // ── discovery → enforcement bridge (r16, VERDICT r15 #6) ──────────
  // profile_fd / profile_inclusion DISCOVER dependencies as report
  // rows; this closes the loop: profile the target's CURRENT resolved
  // state for predicates that HOLD and emit them as candidate Check
  // rows a caller can promote into the _CONSTRAINTS contract via
  // [[declare]] — the Salting.decideFromProfile signal→action pattern
  // applied to data quality. A CHECK is row-local, so only row-
  // expressible discoveries are proposed: NOT-NULL, numeric range, and
  // — the FD case — a functional dependency whose LHS domain is
  // control-plane sized (≤ ndvCap), promoted by EMBEDDING the
  // discovered mapping as a literal map lookup (an unseen future LHS
  // value makes the lookup NULL, which PASSES — the constraint judges
  // only the mappings it observed; a drifted mapping violates). Values
  // are vetted against a safe charset before being spliced into
  // expression text, and every proposal re-analyzes through declare()'s
  // loud validation when promoted.

  private def jsonField(f: String): String = {
    require(f.matches("[A-Za-z0-9_]+"),
      s"field name '$f' is not a simple identifier")
    s"get_json_object(newImage, '$$.$f')"
  }

  private def safeLiteral(v: String): Boolean =
    v != null && v.matches("[A-Za-z0-9_ .:\\-]*")

  /** Candidate checks discovered from the target's current resolved
    * state: per field in `fields`, `<f>_not_null` when every row
    * carries it and `<f>_in_range` (the observed [min, max]) when every
    * value parses as BIGINT; per (lhs, rhs) in `fdCandidates`,
    * `fd_<lhs>_determines_<rhs>` when the FD holds and ndv(lhs) ≤
    * `ndvCap`, with the discovered mapping embedded as a sorted literal
    * map. Aggregates are one hash-agg per candidate over the resolved
    * state; only ndv-sized mappings are pulled to the driver.
    */
  def propose(spark: SparkSession, dir: String, fields: Seq[String],
              fdCandidates: Seq[(String, String)] = Nil,
              ndvCap: Int = 64): Seq[Check] = {
    val state = SnapshotStore.readTarget(spark, dir)
      .select(col("newImage")).localCheckpoint(true)
    val fieldChecks = fields.flatMap { f =>
      val g = jsonField(f)
      val r = state.agg(
        count(lit(1)).as("n"),
        sum(when(expr(g).isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(expr(s"try_cast($g AS BIGINT)").isNull && expr(g).isNotNull,
          1L).otherwise(0L)).as("n_nonnum"),
        min(expr(s"try_cast($g AS BIGINT)")).as("lo"),
        max(expr(s"try_cast($g AS BIGINT)")).as("hi")).head()
      val (n, nNull, nNonnum) = (r.getLong(0), r.getLong(1), r.getLong(2))
      (if (n > 0 && nNull == 0)
        Seq(Check(s"${f}_not_null", s"$g IS NOT NULL")) else Nil) ++
      (if (n > 0 && nNull == 0 && nNonnum == 0)
        Seq(Check(s"${f}_in_range",
          s"CAST($g AS BIGINT) BETWEEN ${r.getLong(3)} AND ${r.getLong(4)}"))
       else Nil)
    }
    val fdChecks = fdCandidates.flatMap { case (a, b) =>
      val (ga, gb) = (jsonField(a), jsonField(b))
      val grp = state.filter(expr(ga).isNotNull && expr(gb).isNotNull)
        .groupBy(expr(ga).as("va"))
        .agg(countDistinct(expr(gb)).as("k"), max(expr(gb)).as("vb"))
        .localCheckpoint(true) // feeds the holds-probe AND the mapping pull
      val prof = grp.agg(count(lit(1)).as("ndv"),
        coalesce(max("k"), lit(0L)).as("maxk")).head()
      if (prof.getLong(0) == 0 || prof.getLong(0) > ndvCap ||
          prof.getLong(1) != 1L) Nil
      else {
        val pairs = grp.select("va", "vb").collect()
          .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
        if (!pairs.forall(p => safeLiteral(p._1) && safeLiteral(p._2))) Nil
        else {
          val mapLit = pairs
            .map { case (k, v) => s"'$k', '$v'" }.mkString("map(", ", ", ")")
          Seq(Check(s"fd_${a}_determines_$b",
            s"CASE WHEN $ga IS NULL OR $gb IS NULL THEN TRUE " +
              s"ELSE $gb = element_at($mapLit, $ga) END"))
        }
      }
    }
    fieldChecks ++ fdChecks
  }

  /** First violated constraint's name per row, NULL when the row passes.
    * SQL-standard CHECK (FALSE violates, NULL passes); REMOVEs skipped.
    */
  def violationCol(checks: Seq[Check]): Column =
    checks.foldLeft(lit(null).cast("string")) { (acc, c) =>
      coalesce(acc,
        when(col("eventName") =!= graft.model.CdcSchema.Remove &&
          !coalesce(expr(c.expr), lit(true)), lit(c.name)))
    }
}
