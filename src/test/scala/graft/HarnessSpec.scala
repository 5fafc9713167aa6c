package graft

import org.apache.spark.sql.functions._

import graft.harness.BenchHarness

class HarnessSpec extends SparkSpec {

  test("run executes suite × repeats × parallel conns and stats aggregate") {
    import spark.implicits._
    val suite = Map[String, () => org.apache.spark.sql.DataFrame](
      "tiny_agg" -> (() => spark.read.parquet(s"$sf/orders.parquet")
        .groupBy("o_orderstatus").count()),
      "tiny_filter" -> (() => spark.read.parquet(s"$sf/nation.parquet")
        .filter(col("n_nationkey") < 10)))
    val timings = BenchHarness.run(spark, suite, repeats = 2, parallelism = 2)
    assert(timings.count() == 2L * 2 * 2) // queries × repeats × conns
    assert(timings.filter(col("seconds") <= 0).count() == 0)
    val st = BenchHarness.stats(timings)
    val byQ = st.collect().map(r =>
      r.getAs[String]("query") -> r.getAs[Long]("n_runs")).toMap
    assert(byQ == Map("tiny_agg" -> 4L, "tiny_filter" -> 4L))
    val rows = st.filter(col("query") === "tiny_filter")
      .select("rows").as[Long].first()
    assert(rows == spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") < 10).count())
  }

  test("bench epilogue prints the compact summary as the final stdout line even when cleanup throws") {
    // the driver's 2000-char tail parser reads the LAST stdout line; a
    // stop()-time or scratch-deletion failure must be swallowed (stderr),
    // not allowed to eat the summary — the r19 tail fix's remaining hole
    val compact = """{"metric":"total","value":1.0,"unit":"sec"}"""
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    var secondRan = false
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      val errPs = new java.io.PrintStream(err, true, "UTF-8")
      val oldErr = System.err
      System.setErr(errPs)
      try Bench.printFinalLine(compact,
        () => throw new RuntimeException("scratch delete failed"),
        () => { secondRan = true })
      finally System.setErr(oldErr)
    }
    assert(secondRan, "a throwing cleanup must not skip later cleanups")
    val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.nonEmpty && lines.last == compact)
    // the summary must also be parseable JSON (what the driver does)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.last)
    assert(node.get("metric").asText == "total")
    assert(err.toString("UTF-8").contains("cleanup failed"))
  }

  test("host snapshot reads loadavg+steal and the degraded verdict uses only neighbor signals") {
    val snap = Bench.hostSnap()
    // on this Linux host the fields must be real (non-sentinel)
    assert(snap.load1 >= 0 && snap.totalTicks > 0 && snap.stealTicks >= 0)
    // quiet pre-run load + no steal growth => not degraded
    val quiet = Bench.HostSnap(0.2, 0.5, 1.0, 1, 100, 100000)
    val post = Bench.HostSnap(30.0, 10.0, 5.0, 40, 110, 200000)
    val (json1, deg1) = Bench.hostJson(quiet, None, post, 32)
    assert(!deg1, "high MID/POST load is our own 32 threads, never degraded")
    assert(json1.contains("\"steal_pct\":") && json1.contains("\"pre\":"))
    // sbt's own startup leaves pre-run load1 ≈ 1.2 on an idle box (the
    // first r20 cycle measured exactly this) — must NOT read as degraded
    val (_, degSbt) = Bench.hostJson(quiet.copy(load1 = 1.19), None, post, 32)
    assert(!degSbt, "sbt-startup self-load must not flag degraded")
    // CHAIN-AWARENESS (r20 verdict item 6): a cycle launched minutes after
    // another bench inherits the dead run's decaying load1 (the r20 c8
    // driver run read pre-load1 8.61 / steal ≈1.4% / runnable ~2) — high
    // pre-load with an idle runnable count and no steal is a corpse
    // decaying through loadavg, NOT contention, and must self-label clean
    val (_, degChain) =
      Bench.hostJson(quiet.copy(load1 = 8.61, runnable = 2), None, post, 32)
    assert(!degChain, "back-to-back cycle decay must not flag degraded")
    // genuinely contended window: high pre-load CORROBORATED by real
    // runnable tasks (> cpus/4) flags degraded
    val (_, deg2) =
      Bench.hostJson(quiet.copy(load1 = 2.7, runnable = 20), None, post, 32)
    assert(deg2)
    // hypervisor steal over the window flags degraded on its own — the
    // signal that caught the measured r19/r20 degraded evenings (5.7%),
    // where in-VM runnable was near zero
    val stolen = Bench.HostSnap(30.0, 10.0, 5.0, 40, 100 + 5000, 200000)
    val (_, deg3) = Bench.hostJson(quiet, None, stolen, 32)
    assert(deg3)
  }

  test("trimmed per-query map: slowest-first, budget-bounded, parseable") {
    // r20 verdict item 2: the driver's ~2000-char tail parser got
    // "queries":"see_full_artifact" and PERF computed nothing per-query.
    // The compact line now carries the biggest slowest-first prefix that
    // fits a byte budget.
    val med = (1 to 200).map(i => (f"query_number_$i%03d", i / 100.0))
    val (json, elided) = Bench.trimmedQueriesJson(med, 1500)
    assert(json.length <= 1500)
    assert(elided > 0 && elided < 200)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.size() == 200 - elided)
    // slowest entries included, fastest elided
    assert(node.has("query_number_200") && node.has("query_number_199"))
    assert(!node.has("query_number_001"))
    // small suites fit whole
    val (jAll, eAll) = Bench.trimmedQueriesJson(med.take(5), 1500)
    assert(eAll == 0)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(jAll).size() == 5)
    // names are JSON-escaped: a quote or backslash keeps the line parseable
    val odd = Seq("q\"quoted\"" -> 2.0, "back\\slash" -> 1.0)
    val (jOdd, eOdd) = Bench.trimmedQueriesJson(odd, 1500)
    val nOdd = new com.fasterxml.jackson.databind.ObjectMapper().readTree(jOdd)
    assert(eOdd == 0 && nOdd.size() == 2)
    assert(nOdd.get("q\"quoted\"").asDouble() == 2.0)
    assert(nOdd.get("back\\slash").asDouble() == 1.0)
    // 3-significant-digit rendering keeps entries short and ratio-precise
    assert(Bench.sig3(1.2445823263655322) == "1.24")
    assert(Bench.sig3(0.8800444771027348) == "0.88")
    assert(Bench.sig3(12.345) == "12.3")
    assert(Bench.sig3(211.32943749699996) == "211")
  }
}
