package perfbench

/** One timed operation. `run` returns whether the result was correct; a
  * throw counts as a failure. An op that completes a comparison (the
  * second format of a lake step) returns the comparison's verdict. */
final case class Op(name: String, run: () => Boolean)

final case class Sample(name: String, startNs: Long, durNs: Long, ok: Boolean,
                        error: String) {
  def seconds: Double = durNs / 1e9
}

/** The closed loop: one client runs ops back to back, in rounds. */
object Loop {
  /** Run whole `rounds` until the next one is predicted to end past
    * `deadlineNs` (by the mean duration of the rounds run so far; the first
    * round always runs), then run `closing` regardless. Rounds are built
    * when they start, so they may draw on state earlier rounds left. */
  def run(rounds: Iterator[Seq[Op]], deadlineNs: Long, closing: Seq[Op] = Nil,
          clock: () => Long = () => System.nanoTime): Vector[Sample] = {
    val out = Vector.newBuilder[Sample]
    val first = clock()
    var done = 0
    def predictedEnd(now: Long): Long =
      if (done == 0) now else now + (now - first) / done
    while (rounds.hasNext && predictedEnd(clock()) <= deadlineNs) {
      rounds.next().foreach(op => out += runOp(op, clock))
      done += 1
    }
    closing.foreach(op => out += runOp(op, clock))
    out.result()
  }

  def runOp(op: Op, clock: () => Long): Sample = {
    val t0 = clock()
    val (ok, err) =
      try { if (op.run()) (true, "") else (false, "wrong result") }
      catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
    Sample(op.name, t0, clock() - t0, ok, err)
  }
}

object Stats {
  /** Nearest-rank percentile: the smallest sample with at least a share `q`
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"quantile $q outside (0, 1]")
    val sorted = xs.sorted
    sorted(math.max(1, math.ceil(q * sorted.size - 1e-9).toInt) - 1)
  }

  /** Samples strictly beyond the nearest-rank `q`-th percentile of `n`. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** The fewest samples for which `k` of them lie beyond the `q`-th
    * percentile: the percentile rule asks for k = 10. */
  def minSamples(q: Double, k: Int): Int =
    Iterator.from(1).find(n => beyond(n, q) >= k).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
