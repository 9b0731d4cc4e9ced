package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Get-or-build memo of once-per-session artifacts (persisted frames,
  * trained models, built index targets, driver-side counts). Every
  * session cache in the engine goes through one of these; each owner
  * holds one instance per artifact type.
  *
  * Contract:
  *  - entries are keyed by (applicationId, key), and any access drops
  *    the entries of other applications (one active SparkContext per
  *    JVM, so a different id means a stopped context);
  *  - each key is built at most once: concurrent callers of one key wait
  *    for that one build, callers of other keys do not wait;
  *  - a build may call the same memo for a different key (the Corpus pair
  *    frames build from its hsets/bands frames): no lock on the map is
  *    held during a build, only the key's own;
  *  - a build that throws is not cached, so the next call builds again.
  *
  * Builds may run Spark jobs.
  */
final class SessionMemo[K, V] {
  private val cells = new ConcurrentHashMap[(String, K), SessionMemo.Cell[V]]()

  def apply(s: SparkSession, key: K)(build: => V): V =
    get(s.sparkContext.applicationId, key)(build)

  def get(app: String, key: K)(build: => V): V = {
    cells.keySet.removeIf(_._1 != app)
    cells.computeIfAbsent((app, key), _ => new SessionMemo.Cell[V]).get(build)
  }
}

object SessionMemo {
  private final class Cell[V] {
    @volatile private var value: Option[V] = None

    def get(build: => V): V = value.getOrElse(synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    })
  }
}
