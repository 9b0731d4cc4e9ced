package graft

/** Full-registry analysis smoke test against REAL driver testdata.
  *
  * Round 6 shipped a silent regression: the driver regenerated
  * `/root/testdata` with `events.ts` as parquet timestamp[us] (Spark 4
  * TIMESTAMP_NTZ), three registered queries crashed at analysis time
  * (`unix_micros` requires ltz), and `sbt test` stayed green because no
  * suite touched the full registry over the real files. This suite closes
  * that hole: every registered query must BUILD and ANALYZE against
  * sf0.001. Only the final plans are analyzed, not executed, but building
  * a query runs real Spark jobs: the eager construction work of every
  * session memo (the SCC peel, the rec retrain, the dedup components, the
  * trained centroids and codebooks, the persisted index stores),
  * localCheckpoint materializations and fixpoint convergence counts. The
  * sweep therefore takes minutes, not seconds (123 s on a 4-core host).
  * A testdata regeneration that changes a physical type now fails the
  * build instead of the round's CORRECTNESS artifact.
  */
class RegistryAnalyzeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("every registered query analyzes against driver testdata (sf0.001)") {
    assume(new java.io.File(sfDir).isDirectory, s"driver testdata missing at $sfDir")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try { q(spark, sfDir).queryExecution.analyzed; None }
      catch { case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty, s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }
}
