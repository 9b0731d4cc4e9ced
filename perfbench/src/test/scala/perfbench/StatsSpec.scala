package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val oneTo100 = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles and the median") {
    assert(Stats.percentile(oneTo100, 50) == 50)
    assert(Stats.percentile(oneTo100, 90) == 90)
    assert(Stats.percentile(oneTo100, 99) == 99)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(40, 75) == 10)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.tail((1 to 40).map(_.toDouble), 75) == 30)
    assert(Stats.tail((1 to 1000).map(_.toDouble), 99) == 990)
    intercept[IllegalArgumentException](Stats.tail((1 to 39).map(_.toDouble), 75))
    intercept[IllegalArgumentException](Stats.tail((1 to 999).map(_.toDouble), 99))
  }

  test("span self time subtracts the union of its children, clipped") {
    val spans = Seq(
      Span(1, 0, "cycle", 0, 100, "r"),
      Span(2, 1, "a", 10, 30, "r"),
      Span(3, 1, "b", 20, 50, "r"),   // overlaps a: counted once
      Span(4, 1, "c", 90, 120, "r"),  // runs past its parent: clipped
      Span(5, 2, "a.1", 12, 18, "r"))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(5) == 6)
  }

  test("time outside jobs is wall time minus the union of job intervals inside it") {
    val jobs = Seq((10.0, 30.0), (20.0, 40.0), (90.0, 130.0), (200.0, 210.0))
    assert(Spans.covered(jobs, 0, 100) == 30 + 10)
    assert(Spans.covered(jobs, 25, 35) == 10)
    assert(Spans.covered(Nil, 0, 100) == 0)
  }

  test("the tracer nests spans under the innermost open span") {
    val t = new Tracer("r")
    t.span("outer") {
      t.span("inner")(())
      t.add("point", 1, 2)
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("outer").parent == 0)
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("point").parent == byName("outer").id)
    assert(byName("outer").endMs >= byName("inner").endMs)
  }

  test("lag is the publish of the batch that read the file minus each due time") {
    val ckpt = Files.createTempDirectory("ckpt").toFile
    val log = new File(ckpt, "sources/0")
    log.mkdirs()
    Files.writeString(new File(log, "0").toPath,
      "v1\n{\"path\":\"file:///in/part-00000.json\",\"timestamp\":1,\"batchId\":0}\n" +
        "{\"path\":\"file:///in/part-00001.json\",\"timestamp\":1,\"batchId\":0}\n")
    Files.writeString(new File(log, "1").toPath,
      "v1\n{\"path\":\"file:///in/part-00002.json\",\"timestamp\":2,\"batchId\":1}\n")
    Files.writeString(new File(log, ".1.crc").toPath, "ignored")
    val fb = Stats.checkpointFileBatches(ckpt)
    assert(fb == Map("part-00000.json" -> 0L, "part-00001.json" -> 0L, "part-00002.json" -> 1L))

    val dues = Map("part-00000.json" -> Seq(0.0, 50.0), "part-00001.json" -> Seq(100.0),
      "part-00002.json" -> Seq(150.0))
    val lag = Stats.attributeLag(fb, Map(0L -> 400.0, 1L -> 1000.0), dues)
    assert(lag.sorted == Seq(300.0, 350.0, 400.0, 850.0))
    // an unread file or an unpublished batch is an error, never a dropped sample
    intercept[IllegalStateException](Stats.attributeLag(fb, Map(0L -> 400.0), dues))
    intercept[IllegalStateException](
      Stats.attributeLag(fb, Map(0L -> 400.0, 1L -> 1000.0), dues + ("part-00009.json" -> Seq(1.0))))
  }
}
