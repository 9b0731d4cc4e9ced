package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan audit: summarizes every registered query's executed
  * plan (join strategies, exchange count, scan pushdown, codegen spans,
  * window-limit pushdown, unpartitioned windows) into PLANS.md — the "is this the plan you'd
  * want at 1000×" evidence, kept current by re-running after changes.
  *
  * Run: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  */
object PlanAudit extends AdaptiveSparkPlanHelper {
  /** Window operators with no PARTITION BY in the final plan (AQE stages
    * and subqueries included): each moves all of its input into one task.
    */
  private def unpartitionedWindows(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local("graft-plan-audit")

    def count(p: String, needle: String): Int =
      needle.r.findAllIn(p).length

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        qe.toRdd.count() // execute so AQE finalizes (runtime broadcast/coalesce decisions)
        // AQE's toString appends the pre-adaptive plan under
        // "== Initial Plan ==" — audit only the final plan
        val p = qe.executedPlan.toString.split("== Initial Plan ==")(0)
        val joins = Seq(
          "BroadcastHashJoin" -> "BHJ", "SortMergeJoin" -> "SMJ",
          "ShuffledHashJoin" -> "SHJ", "BroadcastNestedLoopJoin" -> "BNLJ")
          .flatMap { case (k, short) =>
            val n = count(p, k); if (n > 0) Some(s"$n×$short") else None
          }.mkString(" ")
        val exch = count(p, "Exchange hashpartitioning")
        val codegen = count(p, "\\*\\(\\d+\\)")
        val pushed = if (p.contains("PushedFilters: [I") ||
          p.contains("PushedFilters: [L") || p.contains("PushedFilters: [E")) "yes" else "—"
        val wgl = if (p.contains("WindowGroupLimit")) "yes" else "—"
        val topk = if (p.contains("TakeOrderedAndProject")) "yes" else "—"
        val unpart = unpartitionedWindows(qe.executedPlan)
        f"| `$name` | ${if (joins.isEmpty) "—" else joins} | $exch | $codegen | $pushed | $wgl | $topk | $unpart |"
      } catch {
        case e: Throwable => s"| `$name` | ERROR: ${e.getMessage.take(60)} | | | | | | |"
      }
    }

    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit of every registered query\n\n")
    md.append(s"Generated by `graft.PlanAudit` over `$sfDir` (plan shapes are\n")
    md.append("scale-independent; AQE may further coalesce/convert at runtime).\n")
    md.append("Key plan properties are additionally pinned as assertions in\n")
    md.append("`src/test/scala/graft/PlanSpec.scala` so regressions fail CI.\n")
    md.append("A near-empty row (0 exchanges, 0 codegen spans) means AQE's\n")
    md.append("empty-relation propagation collapsed the executed plan because a\n")
    md.append("selective filter matches zero rows at this tiny SF (e.g. the\n")
    md.append("two-nation pair filter of `q7_nation_volume`); the pre-adaptive\n")
    md.append("shape for those is asserted in PlanSpec instead.\n")
    md.append("`unpartitioned windows` counts the final plan's window operators\n")
    md.append("with no PARTITION BY: each runs its whole input in one task.\n\n")
    md.append("| query | joins | hash exchanges | codegen spans | pushed filters | window-limit | top-k op | unpartitioned windows |\n")
    md.append("|---|---|---|---|---|---|---|---|\n")
    rows.foreach(r => md.append(r).append("\n"))
    Files.writeString(Paths.get(out), md.toString)
    println(s"wrote $out (${rows.length} queries)")
    spark.stop()
  }
}
