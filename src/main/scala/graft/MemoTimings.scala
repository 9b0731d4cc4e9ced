package graft

/** Measured build times of once-per-session memoized artifacts (the
  * sccArtifacts peel, the rec_hitrate retrain, the Corpus.cachedTimed
  * family roots, Bench's warm-isolated warming runs).
  *
  * WHY (r15 verdict "what's wrong" #1): Bench reports min-over-passes
  * per query, and a session memo that SURVIVES between passes makes its
  * owner's min a warm sample — the build's real cost lands in pass-1
  * wall clock but in no recorded slot, so the artifact's "total" quietly
  * understates suite cost (~20 s at sf0.1: the SCC peel ~12 s, the
  * leave-last-out retrain ~8 s). Each memo now records its measured
  * build time here at the moment it actually builds, and Bench emits the
  * snapshot as an `"artifacts":{name:sec}` block — recorded total +
  * artifacts ≈ real suite cost, with the once-per-session compute
  * visible and itemized instead of silently discarded by the min.
  *
  * `record` is putIfAbsent per (application, name): the FIRST build of a
  * session is the honest figure; later re-records (a memo re-built after
  * cache eviction) must not overwrite it mid-snapshot. Entries of dead
  * applications are purged on the next record (one active SparkContext
  * per JVM — the [[SessionMemo]] discipline).
  */
object MemoTimings {
  private val times =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Double]()

  def record(app: String, name: String, sec: Double): Unit = {
    times.keySet.removeIf(_._1 != app)
    times.putIfAbsent((app, name), sec)
  }

  /** All recorded (name → build seconds) for the given application. */
  def snapshot(app: String): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    times.forEach((k, v) => if (k._1 == app) out += (k._2 -> v))
    out.result()
  }

  /** Time `build`, record under `name`, return the result. */
  def timed[A](app: String, name: String)(build: => A): A = {
    val t0 = System.nanoTime()
    val a = build
    record(app, name, (System.nanoTime() - t0) / 1e9)
    a
  }
}
