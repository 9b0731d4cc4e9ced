package perfbench

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The correctness gates in front of the numbers: a cycle whose end
  * state, lookups or dead-letter queue disagree with the generated model
  * reports errors, and a run with errors prints no metrics.
  */
class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench").toFile
  private lazy val spark = Main.session(2, work)
  private val progress = new ProgressLog
  private lazy val runner = new Runner(spark, work, 5, progress, None, new Tracer("spec"))
  private val tiny = GenParams(restoredKeys = 300, events = 3000, files = 2)
  private lazy val prep = runner.prepare(PitrDrill, tiny, "spec")

  override def beforeAll(): Unit = spark.streams.addListener(progress)
  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(work)
  }

  test("the digest computed without Spark is Spark's xxhash64") {
    import spark.implicits._
    val rows = Seq(("k1", "10", "img"), ("k2", "7", null))
    val got = rows.toDF("keys", "sequenceNumber", "newImage")
      .selectExpr("xxhash64(keys, sequenceNumber, newImage)").as[Long].collect().toSeq
    assert(got == rows.map { case (a, b, c) => Digest.rowHash(a, b, c) })
  }

  test("a correct drill passes every check") {
    assert(prep.in.poison.nonEmpty)
    val r = runner.cycle(PitrDrill, prep, 1, traced = false, lookups = true)
    assert(r.errors.isEmpty)
    assert(r.batches == tiny.files)
    assert(r.lagMs.size == prep.in.validLines)
  }

  test("a wrong end state is reported") {
    val (n, h) = prep.expected
    val r = runner.cycle(PitrDrill, prep.copy(expected = (n, h + 1)), 2, traced = false, lookups = false)
    assert(r.errors.exists(_.startsWith("end state")))
  }

  test("a lookup returning a row the model lacks is reported") {
    val k = prep.in.lookupKeys.find(prep.in.expected.contains).get
    val wrong = prep.copy(in = prep.in.copy(expected = prep.in.expected - k))
    val r = runner.cycle(PitrDrill, wrong, 3, traced = false, lookups = true)
    assert(r.lookupsFailed > 0)
    assert(r.errors.exists(_.contains("lookups returned a wrong row")))
  }

  test("a dead-letter queue missing planted poison is reported") {
    val extra = Ev("p999999999", "MODIFY", 999999999L, 1, null, 0L)
    val files = prep.in.files.updated(0, prep.in.files(0) :+ extra) // planted, never written
    val r = runner.cycle(PitrDrill, prep.copy(in = prep.in.copy(files = files)), 4,
      traced = false, lookups = false)
    assert(r.errors.exists(_.startsWith("dead-letter queue")))
  }

  test("a query slice result differing from its recorded digest is reported") {
    val want = Map("q1" -> (3L, BigDecimal(42)), "q2" -> (5L, BigDecimal(-7)))
    def run(n: String, d: (Long, BigDecimal)) = QuerySlice.QueryRun(n, 0, 1, 2, d)
    assert(QuerySlice.check(Seq(run("q1", (3L, BigDecimal(42)))), want).isEmpty)
    val bad = QuerySlice.check(Seq(run("q1", (3L, BigDecimal(43))), run("q2", (5L, BigDecimal(-7))),
      run("q3", (1L, BigDecimal(0)))), want)
    assert(bad.size == 2)
    assert(bad.exists(_.startsWith("q1: digest")) && bad.exists(_.startsWith("q3: no recorded")))
  }

  test("the recorded query slice digests cover the slice and match a fresh run") {
    val data = new java.io.File("data")
    val want = QuerySlice.readDigests(new java.io.File("query_digests.txt"))
    assert(want.keySet == QuerySlice.Names.toSet)
    val runs = QuerySlice.run(spark, data, new Tracer("spec"))
    assert(QuerySlice.check(runs, want).isEmpty)
  }

  test("a failed run prints no metrics") {
    assert(Main.resultJson(correct = false, 3, 3, Nil) ==
      """{"correct": false, "attempted": 3, "failed": 3, "metrics": {}}""")
  }
}
