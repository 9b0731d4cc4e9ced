package perfbench

import java.io.File

import scala.io.Source

/** Sample statistics and the attribution arithmetic the benchmark
  * reports from. Pure functions, so the specs pin them exactly.
  */
object Stats {
  /** A tail percentile is reported only when at least this many samples
    * lie beyond it.
    */
  val MinBeyond = 10

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size - 1e-9).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The p-th percentile, refused when the sample cannot support it. */
  def tail(xs: Seq[Double], p: Double): Double = {
    require(beyond(xs.size, p) >= MinBeyond,
      s"p$p of ${xs.size} samples has ${beyond(xs.size, p)} beyond it; need $MinBeyond")
    percentile(xs, p)
  }

  /** Source file name -> micro-batch id, from a file source's checkpoint
    * log (`<checkpoint>/sources/0/<batch>[.compact]`: a version line, then
    * one JSON entry per file with its `path` and `batchId`).
    */
  def checkpointFileBatches(checkpointDir: File): Map[String, Long] = {
    val dir = new File(checkpointDir, "sources/0")
    val PathRe = "\"path\":\"([^\"]*)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
    files.iterator.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().toList.flatMap { l =>
        for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
          yield p.group(1).split('/').last -> b.group(1).toLong
      } finally src.close()
    }.toMap
  }

  /** Per-delivery lag: the publish time of the batch that read the
    * delivery's file, minus the delivery's due time. Fails when a file
    * was never read or its batch never published: an event the stream
    * did not apply has no lag, and dropping it would flatter the tail.
    */
  def attributeLag(fileBatch: Map[String, Long], publishMs: Map[Long, Double],
                   fileDueMs: Map[String, Seq[Double]]): Seq[Double] =
    fileDueMs.toSeq.flatMap { case (file, dues) =>
      val b = fileBatch.getOrElse(file,
        throw new IllegalStateException(s"file $file is in no micro-batch"))
      val pub = publishMs.getOrElse(b,
        throw new IllegalStateException(s"batch $b (file $file) never published"))
      dues.map(pub - _)
    }
}

/** One traced interval. Spans of one workload run share `run`; `parent`
  * is the id of the enclosing span (0 at the root). Times are epoch ms.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double, run: String) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder; written out once when the run ends. */
final class Tracer(val run: String) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Record a finished interval under `parent` (the innermost open span
    * when not given). Returns its id.
    */
  def add(name: String, startMs: Double, endMs: Double,
          parent: Int = -1): Int = synchronized {
    nextId += 1
    buf += Span(nextId, if (parent >= 0) parent else stack.headOption.getOrElse(0),
      name, startMs, endMs, run)
    nextId
  }

  /** Time `f` as a span; spans recorded inside it become its children. */
  def span[A](name: String)(f: => A): A = {
    val start = Clock.nowMs
    val id = synchronized {
      nextId += 1
      val id = nextId
      buf += Span(id, stack.headOption.getOrElse(0), name, start, start, run)
      stack = id :: stack
      id
    }
    try f finally synchronized {
      stack = stack.tail
      val i = buf.indexWhere(_.id == id)
      buf(i) = buf(i).copy(endMs = Clock.nowMs)
    }
  }
}

object Spans {
  /** Length of the union of `intervals` clipped to [a, b]. */
  def covered(intervals: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val iv = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(iv, s.startMs, s.endMs))
    }.toMap
  }
}

/** Wall clock in epoch ms with nanoTime resolution, so spans timed here
  * and publish times reported by Spark (epoch ms) share one axis.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** The expected end state's digest, computed without Spark: the same
  * value the scan's `count(*)` and `sum(xxhash64(keys, sequenceNumber,
  * newImage))` give for a table holding exactly those rows.
  */
object Digest {
  /** Spark's `xxhash64` over string columns: seed 42, each non-null
    * column's UTF-8 bytes hashed with the running hash as its seed.
    */
  def rowHash(cols: String*): Long = cols.foldLeft(42L) { (h, c) =>
    if (c == null) h
    else {
      val b = c.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
  }

  def ofExpected(rows: Map[String, (String, String)]): (Long, BigDecimal) =
    (rows.size.toLong, rows.iterator.map { case (k, (s, img)) => BigDecimal(rowHash(k, s, img)) }.sum)
}
