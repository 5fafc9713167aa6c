package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {
  /** A clock that advances only when an op says so. */
  final class FakeClock { var now = 0L; val tick: () => Long = () => now }

  test("percentile rule: the p90 of 100 samples has 10 beyond it, of 99 only 9") {
    assert(Stats.minSamples(0.9, 10) == 100)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) == 10)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(3.0), 0.9) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("a thrown op is a failed sample and never a latency sample") {
    val clock = new FakeClock
    val ops = Seq(Op("boom", () => throw new IllegalStateException("no")),
      Op("slow", () => { clock.now += 1000; true }))
    val samples = Loop.run(Iterator(ops), deadlineNs = 0, clock = clock.tick)
    val boom = samples.find(_.name == "boom").get
    assert(!boom.ok && boom.error.contains("IllegalStateException"))
    assert(boom.durNs == 0)
    assert(samples.filter(_.ok).map(_.durNs) == Seq(1000L))
  }

  test("a wrong result fails the op") {
    val wrong = Loop.runOp(Op("w", () => false), new FakeClock().tick)
    assert(!wrong.ok && wrong.error == "wrong result")
  }

  test("the loop runs whole rounds, stops before one predicted to end past the deadline, then closes") {
    val clock = new FakeClock
    def op(name: String) = Op(name, () => { clock.now += 5; true })
    val rounds = Iterator.from(0).map(i => Seq(op(s"r$i.a"), op(s"r$i.b")))
    val out = Loop.run(rounds, deadlineNs = 35, closing = Seq(op("close")), clock = clock.tick)
    // rounds end at 10, 20, 30; a fourth would end at 40 > 35
    assert(out.map(_.name) == Seq("r0.a", "r0.b", "r1.a", "r1.b", "r2.a", "r2.b", "close"))
  }

  test("the first round always runs") {
    val clock = new FakeClock
    val out = Loop.run(Iterator(Seq(Op("only", () => { clock.now += 50; true }))),
      deadlineNs = 0, clock = clock.tick)
    assert(out.map(_.name) == Seq("only"))
  }
}
