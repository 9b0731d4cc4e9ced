package perfbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** One CDC record as the generator plans it. `image` is null for a
  * REMOVE and for a planted PUT-without-image; `malformed` lines are not
  * JSON at all. `dueMs` is the offset (from the stream's time origin) at
  * which the event was created.
  */
final case class Ev(id: String, name: String, seq: Long, key: Int,
                    image: String, dueMs: Long, malformed: Boolean = false) {
  def poison: Boolean = malformed || (name != "REMOVE" && image == null)
}

/** Size of one generated change log. */
final case class GenParams(
    restoredKeys: Int, // keys in the history the restore replays
    events: Int,       // change events after the restore point
    files: Int,        // source files the events are spread over
    rateHz: Int = 0,   // live rate; 0 = all buffered before the gate
    lookups: Int = 80) // point lookups per cycle, the first Runner.RampLookups unmeasured

/** The generated inputs plus the model the end state must equal:
  * `expected` is the batch last-writer-wins replay of every valid event
  * (history and change log), key -> (sequence, image); removed keys are
  * absent.
  */
final case class Inputs(params: GenParams, history: Vector[Ev],
                        restorePointMs: Long, files: Vector[Vector[Ev]],
                        expected: Map[String, (String, String)],
                        lookupKeys: Vector[String]) {
  def poison: Vector[Ev] = files.flatten.filter(_.poison)
  def validLines: Int = files.iterator.map(_.count(!_.poison)).sum
}

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here, so the same seed gives byte-identical files.
  *
  * Sequence numbers are drawn from one counter in creation order, so the
  * per-key last writer is the last event generated for that key; files
  * then reorder deliveries (late moves, duplicate redeliveries, shuffled
  * lines) without changing which event wins.
  */
object Gen {
  /** Epoch of the synthetic history: 2024-01-01T00:00:00Z. */
  val T0Ms: Long = 1704067200000L

  /** Shares of the change log: tombstones; redelivered copies (one to
    * three files later); events moved one file late (out of order within
    * a key); planted poison; keys beyond the restored key space.
    */
  val RemoveFrac = 0.10
  val DupFrac = 0.03
  val LateFrac = 0.05
  val PoisonFrac = 0.002
  val NewKeyFrac = 0.10

  def keyOf(k: Int): String = f"""{"pk":{"S":"k$k%08d"}}"""

  def imageOf(k: Int, seq: Long): String =
    f"""{"pk":{"S":"k$k%08d"},"v":{"N":"$seq"},"note":{"S":"v${seq % 9973}%04d"}}"""

  def generate(seed: Long, p: GenParams): Inputs = {
    val rng = new SplittableRandom(seed)
    var seq = 0L
    def next(): Long = { seq += 1; seq }
    val live = mutable.HashMap.empty[Int, Ev] // key -> last valid event

    val history = Vector.newBuilder[Ev]
    def hist(e: Ev): Unit = { history += e; live(e.key) = e }
    for (k <- 0 until p.restoredKeys) {
      val s = next()
      hist(Ev(s"h$s", "INSERT", s, k, imageOf(k, s), 0L))
      if (rng.nextDouble() < 0.3) { val s2 = next(); hist(Ev(s"h$s2", "MODIFY", s2, k, imageOf(k, s2), 0L)) }
      if (rng.nextDouble() < 0.05) { val s3 = next(); hist(Ev(s"h$s3", "REMOVE", s3, k, null, 0L)) }
    }
    val restorePoint = T0Ms + seq

    val keySpace = math.max(1, (p.restoredKeys * (1 + NewKeyFrac)).toInt)
    val perFile = Array.fill(p.files)(Vector.newBuilder[Ev])
    for (i <- 0 until p.events) {
      val s = next()
      val u = rng.nextDouble()
      val k = math.min(keySpace - 1, (keySpace * u * u).toInt) // skewed toward low keys
      val due = if (p.rateHz > 0) i * 1000L / p.rateHz else T0Ms + s - restorePoint
      val ev =
        if (rng.nextDouble() < RemoveFrac) Ev(s"e$s", "REMOVE", s, k, null, due)
        else Ev(s"e$s", if (live.get(k).exists(_.name != "REMOVE")) "MODIFY" else "INSERT",
          s, k, imageOf(k, s), due)
      live(k) = ev
      val home = (i.toLong * p.files / p.events).toInt
      val file = if (rng.nextDouble() < LateFrac) math.min(p.files - 1, home + 1) else home
      perFile(file) += ev
      if (rng.nextDouble() < DupFrac)
        perFile(math.min(p.files - 1, file + 1 + rng.nextInt(3))) += ev
      if (rng.nextDouble() < PoisonFrac) {
        val ps = next()
        perFile(file) +=
          (if (rng.nextBoolean()) Ev(s"m$ps", "MODIFY", ps, k, null, due, malformed = true)
           else Ev(s"p$ps", "MODIFY", ps, k, null, due))
      }
    }
    val files = perFile.toVector.map(b => shuffle(b.result(), rng))

    val expected = live.iterator.collect {
      case (k, e) if e.name != "REMOVE" => keyOf(k) -> (e.seq.toString, e.image)
    }.toMap
    val lookups = Vector.tabulate(p.lookups) { _ =>
      val r = rng.nextDouble()
      val k =
        if (r < 0.7) { val u = rng.nextDouble(); (keySpace * u * u).toInt }
        else if (r < 0.9) rng.nextInt(keySpace)
        else keySpace + rng.nextInt(1000) // never written: the lookup must come back empty
      keyOf(k)
    }
    Inputs(p, history.result(), restorePoint, files, expected, lookups)
  }

  private def shuffle(v: Vector[Ev], rng: SplittableRandom): Vector[Ev] = {
    val a = v.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  private def q(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One JSON line in the file source's record schema. History events
    * are stamped on the synthetic clock; change events at `originMs` plus
    * their due offset (for a live tail the origin is the wall clock at
    * which the generator started).
    */
  def line(e: Ev, tsMs: Long): String =
    if (e.malformed) s"#corrupt-record ${e.id}"
    else s"""{"eventID":${q(e.id)},"eventName":${q(e.name)},"approxCreationTs":"${java.time.Instant.ofEpochMilli(tsMs)}","sequenceNumber":"${e.seq}","keys":${q(keyOf(e.key))},"newImage":${q(e.image)},"oldImage":null}"""

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    // written under a hidden name, then renamed: the file source never
    // lists a half-written file
    val tmp = new File(f.getParentFile, "." + f.getName + ".tmp")
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(tmp.toPath), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(i: Int): String = f"part-$i%05d.json"

  def writeHistory(in: Inputs, dir: File): Unit =
    writeLines(new File(dir, "history.json"),
      in.history.iterator.map(e => line(e, T0Ms + e.seq)))

  def writeFile(in: Inputs, i: Int, dir: File, originMs: Long): File = {
    val f = new File(dir, fileName(i))
    writeLines(f, in.files(i).iterator.map(e => line(e, originMs + e.dueMs)))
    f
  }
}
