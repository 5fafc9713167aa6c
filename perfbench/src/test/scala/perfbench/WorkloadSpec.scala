package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadSpec extends AnyFunSuite {
  test("every lake round runs the same step kinds, both OPTIMIZE kinds included") {
    Seq(1L, 7L, 201L).foreach { seed =>
      val rounds = Lake.schedule(seed, Lake.MaxRounds * Lake.Pattern.size, Gen.Orders)
        .grouped(Lake.Pattern.size).map(_.map(_.kind)).toSeq
      assert(rounds.size == Lake.MaxRounds)
      rounds.foreach(r => assert(r == Lake.Pattern, s"seed $seed"))
      assert(Seq("optimizeCompact", "optimizeZorder").forall(Lake.Pattern.contains))
    }
  }

  test("the k-th MERGE of every lake round draws its size from the k-th part of the range") {
    Seq(1L, 7L, 201L).foreach { seed =>
      Lake.schedule(seed, Lake.MaxRounds * Lake.Pattern.size, Gen.Orders)
        .grouped(Lake.Pattern.size).foreach { round =>
          val merges = round.filter(_.kind == "selectiveMerge")
          assert(merges.size == Lake.MergesPerRound)
          merges.zipWithIndex.foreach { case (m, k) =>
            def edge(j: Int) = 10 * math.pow(10, 2.3 * j / Lake.MergesPerRound)
            val n = m.bands.map(_.n).sum
            assert(n >= math.floor(edge(k)) && n <= math.ceil(edge(k + 1)) + 1,
              s"seed $seed merge $k: $n rows")
          }
        }
    }
  }

  test("lake version picks are the same for every seed and spread over [0, 1)") {
    val us = (0 until 100).map(Lake.versionDraw)
    assert(us.forall(u => u >= 0 && u < 1))
    (0 until 10).foreach(b => assert(us.count(u => u >= b / 10.0 && u < (b + 1) / 10.0) >= 8))
  }

  test("every analytics panel query has a recorded fingerprint with rows") {
    val fps = Main.loadFingerprints("fingerprints.json").queries
    Analytics.Panel.foreach { q =>
      assert(fps.get(q).exists(_.rows > 0), s"$q has no fingerprint with rows")
    }
  }
}
