package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

import graft.harness.{BenchHarness, Probe}

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
    assert(json1.has("steal_pct") && json1.has("pre"))
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
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val med = (1 to 200).map(i => (f"query_number_$i%03d", i / 100.0))
    val (node, elided) = Bench.trimmedQueriesJson(med, 1500)
    assert(mapper.writeValueAsString(node).length <= 1500)
    assert(elided > 0 && elided < 200)
    assert(node.size() == 200 - elided)
    // slowest entries included, fastest elided
    assert(node.has("query_number_200") && node.has("query_number_199"))
    assert(!node.has("query_number_001"))
    // small suites fit whole
    val (jAll, eAll) = Bench.trimmedQueriesJson(med.take(5), 1500)
    assert(eAll == 0)
    assert(mapper.readTree(mapper.writeValueAsString(jAll)).size() == 5)
    // names are JSON-escaped: a quote or backslash keeps the line parseable
    val odd = Seq("q\"quoted\"" -> 2.0, "back\\slash" -> 1.0)
    val (jOdd, eOdd) = Bench.trimmedQueriesJson(odd, 1500)
    val nOdd = mapper.readTree(mapper.writeValueAsString(jOdd))
    assert(eOdd == 0 && nOdd.size() == 2)
    assert(nOdd.get("q\"quoted\"").asDouble() == 2.0)
    assert(nOdd.get("back\\slash").asDouble() == 1.0)
    // 3-significant-digit rendering keeps entries short and ratio-precise
    assert(Bench.sig3(1.2445823263655322) == "1.24")
    assert(Bench.sig3(0.8800444771027348) == "0.88")
    assert(Bench.sig3(12.345) == "12.3")
    assert(Bench.sig3(211.32943749699996) == "211")
  }

  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("bench artifact: full and compact lines are Jackson-built with escaped names, keep the pinned key sets, compact line fits the tail budget") {
    val mapper = new ObjectMapper()
    val quoted = "q\"quoted\""
    val slash = "back\\slash"
    val broken = "fails\"and\\breaks"
    // enough queries that the compact map must be trimmed
    val filler = (1 to 150).map(i => f"filler_query_$i%03d")
    val order = Seq(quoted, slash, broken, "dba_iceberg_dv") ++ filler
    val big = Bench.Rung("/data/sf0.1",
      Map(quoted -> List(3.0, 2.0, 4.0), slash -> List(1.0, 1.2, 1.1),
        "dba_iceberg_dv" -> List(0.7, 0.8, 0.9)) ++
        filler.map(_ -> List(0.5, 0.6, 0.4)),
      Map(broken -> 3))
    val small = Bench.Rung("/data/sf0.01",
      Map(quoted -> List(0.5, 0.4, 0.6), slash -> List(0.9, 1.0, 1.1)) ++
        filler.map(_ -> List(0.5, 0.5, 0.5)),
      Map(slash -> 1))
    val baseline = Some("BENCH_r01.json" -> Map(quoted -> 1.0, slash -> 1.0))
    val pre = Bench.HostSnap(0.2, 0.5, 1.0, 1, 100, 100000)
    val post = Bench.HostSnap(3.0, 1.0, 0.5, 4, 100 + 5000, 200000) // 5 % steal
    val isoCalls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val full = Bench.fullArtifact(3, 7L, order, big, Some(small), baseline,
      { (n, d) =>
        isoCalls += n -> d
        if (n == "dba_iceberg_dv") None else Some(1.0)
      }, () => Bench.hostJson(pre, None, post, 4))
    val node = mapper.readTree(mapper.writeValueAsString(full))
    // the full line's pinned key set and order
    assert(keys(node) == Seq("metric", "value", "unit", "runs", "order_seed",
      "queries", "queries_min", "errors", "sf", "host", "host_note",
      "baseline", "regressions", "queries_isolated", "isolated_runs",
      "regressions_isolated", "sf_small", "total_small", "size_ratio",
      "scale_ratio_total", "queries_small", "scale_ratio", "scale_ratio_min",
      "scale_flags", "scale_ratio_isolated", "scale_flags_isolated",
      "errors_small"))
    assert(keys(node.get("host")) ==
      Seq("pre", "mid", "post", "steal_pct", "degraded"))
    // names holding `"` and `\` survive every per-query map
    assert(node.get("queries").get(quoted).asDouble == 3.0)
    assert(node.get("queries_min").get(slash).asDouble == 1.0)
    assert(node.get("errors").get(broken).asInt == 3)
    assert(!node.get("queries").has(broken), "a failed query has no sample")
    assert(node.get("errors_small").get(slash).asInt == 1)
    assert(node.get("queries").size == 2 + 1 + filler.size)
    // 3.0 median vs a 1.0 baseline regresses; 1.1 does not
    assert(keys(node.get("regressions")) == Seq(quoted))
    assert(node.get("baseline").asText == "BENCH_r01.json")
    // min ratio 2.0 / 0.4 = 5 > the decade bar of 3: flagged in-suite,
    // and re-timed alone at both rungs (1.0 / 1.0) it does not reproduce
    assert(node.get("size_ratio").asDouble == 10.0)
    assert(node.get("scale_flags").asScala.map(_.asText).toSeq == Seq(quoted))
    assert(node.get("scale_ratio_isolated").get(quoted).asDouble == 1.0)
    assert(node.get("scale_flags_isolated").size == 0)
    // isolated: the regressor plus the measured canary, whose every
    // sample failed (-1 sentinel)
    assert(keys(node.get("queries_isolated")) == Seq(quoted, "dba_iceberg_dv"))
    assert(node.get("queries_isolated").get("dba_iceberg_dv").asDouble == -1.0)
    assert(node.get("isolated_runs").asInt == Bench.IsoRuns)
    assert(node.get("regressions_isolated").get(quoted).asDouble == 1.0)
    assert(isoCalls.contains(quoted -> "/data/sf0.01") &&
      isoCalls.contains(quoted -> "/data/sf0.1"))
    assert(node.get("host").get("degraded").asBoolean)

    val compact = mapper.writeValueAsString(
      Bench.compactLine(full, Some("/some/long/artifact/dir/bench_out_c4.json")))
    assert(compact.length <= Bench.TailBudget, s"${compact.length} chars")
    val c = mapper.readTree(compact)
    assert(keys(c) == Seq("metric", "value", "unit", "runs", "sf",
      "n_queries", "n_errors", "n_regressions", "scale_ratio_total",
      "host_degraded", "queries", "queries_elided", "full_artifact"))
    assert(c.get("n_queries").asInt == node.get("queries").size)
    assert(c.get("n_errors").asInt == 1 && c.get("n_regressions").asInt == 1)
    assert(c.get("scale_ratio_total").asDouble ==
      node.get("scale_ratio_total").asDouble)
    assert(c.get("host_degraded").asBoolean)
    assert(c.get("queries").get(quoted).asDouble == 3.0)
    val elided = c.get("queries_elided").asInt
    assert(elided > 0 && c.get("queries").size + elided == node.get("queries").size)
    // no artifact written: the compact line points at nothing
    assert(Bench.compactLine(full, None).get("full_artifact").isNull)
  }

  test("oracle_sql.json round-trips SQL holding a tab, CR, quote, backslash and U+0001") {
    val mapper = new ObjectMapper()
    val sql = "SELECT 'a\tb',\r\n \"col\" FROM t WHERE x LIKE '%\\%' -- \u0001"
    val odd = "q\"odd\\name"
    val f = Files.createTempFile("graft_oracle_sql", ".json").toFile
    try {
      Verify.writeOracleSql(f, Seq(odd -> sql, "plain" -> "SELECT 1"))
      val text = Files.readString(f.toPath)
      assert(!text.exists(_ < ' '), "raw control characters break a strict JSON reader")
      val back = mapper.readTree(f)
      assert(keys(back) == Seq(odd, "plain"))
      assert(back.get(odd).asText == sql)
    } finally f.delete()
  }

  test("src/main reads exactly the six documented SPARK_GRAFT_* env knobs") {
    // adding a knob must update this list and the verify skill's docs
    val documented = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_RUNS", "SPARK_GRAFT_SCALE_DIR", "SPARK_GRAFT_QUERIES",
      "SPARK_GRAFT_BENCH_OUT")
    val anyRead = """sys\.env\b|System\.getenv\b""".r
    val keyed =
      """(?:sys\.env\.(?:get|getOrElse|contains)|sys\.env|System\.getenv)\(\s*"([^"]+)"""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.size > 20, "scan found no sources — wrong working dir?")
    val found = sources.flatMap { p =>
      val src = Files.readString(p)
      val ks = keyed.findAllMatchIn(src).map(_.group(1)).toList
      // every env read names its key literally, so this scan sees it
      assert(anyRead.findAllMatchIn(src).size == ks.size,
        s"$p reads the environment through a non-literal key")
      ks
    }.toSet
    assert(found == documented)
  }

  test("Probe labels jobs: description first, else the job's call site") {
    val sc = spark.sparkContext
    val rec = new Probe.JobRecorder
    sc.addSparkListener(rec)
    try {
      rec.drain(spark)
      spark.read.parquet(s"$sf/nation.parquet")
        .filter(col("n_nationkey") < 10).collect()
      sc.setJobDescription("probe.described")
      try spark.range(10).collect() finally sc.setJobDescription(null)
      val rows = rec.drain(spark)
      assert(rows.nonEmpty && rows.forall(_.label.nonEmpty), rows)
      assert(rows.exists(_.label == "probe.described"), rows)
      assert(rows.exists(_.label.matches(".+ at HarnessSpec\\.scala:\\d+")), rows)
      assert(rec.drain(spark).isEmpty, "drain must clear the recorded rows")
    } finally sc.removeSparkListener(rec)
  }
}
