package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchArithmeticSpec extends AnyFunSuite {

  test("tail: the highest ladder percentile with at least ten samples beyond it") {
    val thousand = (1 to 1000).map(_.toDouble)
    // p99.5 leaves 5 samples above its rank, p99 leaves exactly 10
    assert(Stats.tail(thousand) == Stats.Tail(99.0, 990.0, 1000))
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100))
    // too few samples for any tail: the median, with the count
    assert(Stats.tail((1 to 15).map(_.toDouble)) == Stats.Tail(50.0, 8.0, 15))
    assert(Stats.tail(Seq.empty).value.isNaN)
    // the order of the sample does not matter
    assert(Stats.tail(thousand.reverse) == Stats.tail(thousand))
  }

  test("nearest-rank percentiles stay inside the sample") {
    assert(Stats.rankIndex(1, 99) == 0)
    assert(Stats.rankIndex(10, 0) == 0)
    assert(Stats.rankIndex(10, 100) == 9)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0)) == 1.0)
    // of four passes, the second best
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  test("books close only when every input row is routed once") {
    assert(Stats.Books(10, 4, 3, 1, 1, 1).closed)
    assert(!Stats.Books(10, 4, 3, 1, 1, 0).closed)
    assert(!Stats.Books(10, 5, 3, 1, 1, 1).closed)
  }

  test("the generator is a pure function of seed and sequence number") {
    val a = Gen.events(7, 0, 500)
    assert(a == Gen.events(7, 0, 500))
    assert(Gen.events(7, 200, 100) == a.slice(200, 300))
    assert(Gen.event(7, 321) == a(321))
    assert(Gen.events(8, 0, 500) != a)
    assert(a.map(_.id).distinct.size == a.size)
    assert(a.forall(e => Gen.seqOf(e.id) == e.seq))
  }

  test("generated events spread over types, users and body sizes") {
    val evs = Gen.events(3, 0, 4000)
    val types = evs.groupBy(_.etype).view.mapValues(_.size.toDouble / evs.size).toMap
    Gen.Types.foreach { case (t, w) => assert(math.abs(types(t) - w) < 0.03, t) }
    assert(evs.map(_.userId).distinct.size > 2000)
    val sizes = evs.map(_.data.length)
    assert(sizes.min < 100 && sizes.max > 800)
    // the two subscription filters pass about half the events
    assert(math.abs(evs.count(Gen.steadyPasses).toDouble / evs.size - 0.5) < 0.03)
    assert(math.abs(evs.count(Gen.drainPasses).toDouble / evs.size - 0.5) < 0.03)
  }

  test("the receiver schedule is seeded and its outcome follows the attempts") {
    val seqs = 0L until 10000L
    assert(seqs.map(Gen.status(5, _, 1)) == seqs.map(Gen.status(5, _, 1)))
    assert(seqs.map(Gen.status(5, _, 1)) != seqs.map(Gen.status(6, _, 1)))
    val first = seqs.map(Gen.status(5, _, 1))
    assert(math.abs(first.count(_ == Gen.Unavailable) / 1e4 - 0.35) < 0.02)
    assert(math.abs(first.count(_ == Gen.BadRequest) / 1e4 - 0.05) < 0.01)
    seqs.foreach { s =>
      val answers = (1 to Gen.MaxRetryAttempts + 1).map(Gen.status(5, s, _))
      Gen.outcome(5, s) match {
        case Some(a) =>
          assert(answers(a - 1) == Gen.Ok)
          assert(answers.take(a - 1).forall(_ == Gen.Unavailable))
        case None =>
          val end = answers.indexWhere(_ != Gen.Unavailable)
          assert(end == -1 || answers(end) == Gen.BadRequest)
      }
    }
    // every outcome is reachable
    val outcomes = seqs.map(Gen.outcome(5, _)).toSet
    assert(outcomes == Set(None) ++ (1 to Gen.MaxRetryAttempts + 1).map(Some(_)))
  }
}
