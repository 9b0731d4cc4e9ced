package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val p = GenParams(restoredKeys = 3000, events = 6000, files = 6)
  private def rendered(in: Inputs): Seq[Seq[String]] =
    in.files.map(_.map(e => Gen.line(e, 1000L + e.dueMs))) :+
      in.history.map(e => Gen.line(e, e.seq))

  test("the same seed gives identical inputs") {
    val a = Gen.generate(7, p)
    val b = Gen.generate(7, p)
    assert(rendered(a) == rendered(b))
    assert(a.expected == b.expected)
    assert(a.lookupKeys == b.lookupKeys)
  }

  test("another seed gives other inputs of the same counts and shape") {
    val a = Gen.generate(7, p)
    val b = Gen.generate(8, p)
    assert(rendered(a) != rendered(b))
    for (in <- Seq(a, b)) {
      assert(in.files.size == p.files)
      assert(in.history.map(_.key).distinct.size == p.restoredKeys)
      val changes = in.files.flatten.filterNot(_.poison)
      val unique = changes.map(_.id).distinct
      assert(unique.size == p.events)
      assert(in.lookupKeys.size == p.lookups)
      def near(x: Double, want: Double, tol: Double) =
        assert(math.abs(x - want) <= tol, s"$x not within $tol of $want")
      near(changes.count(_.name == "REMOVE").toDouble / changes.size, Gen.RemoveFrac, 0.02)
      near((changes.size - unique.size).toDouble / p.events, Gen.DupFrac, 0.01)
      near(in.poison.size.toDouble / p.events, Gen.PoisonFrac, 0.003)
      assert(in.poison.exists(_.malformed) && in.poison.exists(!_.malformed))
    }
  }

  test("deliveries arrive out of order within a key") {
    val in = Gen.generate(7, p)
    val seqs = in.files.flatten.filterNot(_.poison).groupBy(_.key).values
    assert(seqs.exists(s => s.map(_.seq) != s.map(_.seq).sorted))
  }

  test("the expected end state is the LWW replay of every valid event") {
    val in = Gen.generate(7, p)
    val all = (in.history ++ in.files.flatten).filterNot(_.poison)
    val replay = all.groupBy(_.key).values.map(_.maxBy(_.seq))
      .filter(_.name != "REMOVE")
      .map(e => Gen.keyOf(e.key) -> (e.seq.toString, e.image)).toMap
    assert(in.expected == replay)
    assert(in.lookupKeys.exists(k => !in.expected.contains(k)))
    assert(in.lookupKeys.exists(in.expected.contains))
  }

  test("a live log is due on the rate's schedule, one file per slot") {
    val live = Gen.generate(7, p.copy(rateHz = 2000))
    val slotMs = 1000L * p.events / 2000 / p.files
    live.files.zipWithIndex.foreach { case (f, i) =>
      // a late or redelivered event keeps its earlier due time
      assert(f.forall(_.dueMs < (i + 1) * slotMs))
    }
  }
}
