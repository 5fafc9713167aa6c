package graft
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Each query is executed `SPARK_GRAFT_RUNS` times (default 3) and the
  * reported per-query number is the MEDIAN of those runs (per-query minima
  * are emitted alongside under "queries_min"). Single-shot timings on a
  * shared 32-core box swing ±3× on host noise — round 2's driver run
  * recorded 197 s for a suite that re-ran at 69 s. Medians make the bench
  * self-adjudicating: an outlier run cannot dominate the headline number.
  *
  * Scaling measurement: unless `SPARK_GRAFT_SCALE_DIR` is explicitly set
  * empty, the suite ALSO runs at a second (smaller) scale factor — default
  * /root/testdata/sf0.01 — and the output carries per-query medians at both
  * points plus the big/small wall ratio. At N× the data (N derived from the
  * two dirs' sf names, 10× for the default pair), an overhead-bound query
  * sits near 1×, a data-proportional one near N×; anything well past N×
  * is superlinear and lands in "scale_flags" — and is then re-measured
  * ALONE at both points ("scale_ratio_isolated"/"scale_flags_isolated"),
  * so the artifact itself says whether a flag reproduces without suite
  * neighbors or was in-suite interference. This turns the 100 TB
  * "overhead-bound at test SF" claim from one-time prose into a per-round
  * measured regression check. The small pass runs FIRST so codegen/JIT
  * warmup is paid there, keeping the headline (big-SF) numbers and the
  * ratio clean of compilation noise.
  */
object Bench {
  private type Query = (SparkSession, String) => DataFrame

  // plain BigDecimals: the compact line's 3-significant-digit medians
  // print as `211`, never `2.11E+2`
  private val mapper = JsonMapper.builder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  /** Timed samples per query in every isolated re-measure. */
  private[graft] val IsoRuns = 3

  /** Queries always re-measured ALONE at the headline SF after the suite:
    * dba_iceberg_dv (the r14 neighbor-interference case) plus the two r15
    * unverified-uptick queries — their isolated minima adjudicate
    * noise-vs-regression mechanically in the artifact. */
  private[graft] val IsolateCanaries =
    Seq("dba_iceberg_dv", "dedup_embedding_cc_exact", "dba_delta_v2ckpt")

  /** Decade canaries re-measured ALONE at both rungs: the per-row kernels
    * whose in-suite minima ride the 2.3×+ band round after round get a
    * standing isolated number instead of ad-hoc re-benching. */
  private[graft] val ScaleCanaries =
    Seq("mm_video_frames", "text_pii_scrub", "stream_interval_join")

  /** Char budget of the compact final line: its readers keep only a
    * ~2000-char stdout tail and parse the last line. */
  private[graft] val TailBudget = 1900

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** One measured rung: its dir, per-query successful samples and
    * per-query failure counts. */
  private[graft] final case class Rung(dir: String,
                                       samples: Map[String, List[Double]],
                                       failures: Map[String, Int])

  /** One full measured sweep: `runs` interleaved whole-suite passes (run 1
    * of everything, then run 2, ...) rather than back-to-back repeats of
    * one query — a transient host stall then lands in at most one sample
    * of each query instead of all three samples of whichever was running.
    */
  private def runSuite(spark: SparkSession, sfDir: String,
                       names: Seq[(String, Query)], runs: Int): Rung = {
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val failures = scala.collection.mutable.Map.empty[String, Int]
    for (_ <- 1 to runs; (name, fn) <- names) {
      val t0 = System.nanoTime()
      // noop sink: every operator/projection actually executes (count()
      // would let Catalyst prune the computed columns away).
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed at $sfDir: ${e.getMessage}")
          failures(name) = failures.getOrElse(name, 0) + 1
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // A failed run's fast-abort elapsed is NOT a sample — recording it
      // would let a broken query masquerade as a fast one in the medians.
      if (ok) samples(name) = samples.getOrElse(name, Nil) :+ dt
      // release operator-owned persists (e.g. shared posting lists)
      // between queries: keeps repeated runs measuring the cold path
      // instead of a cache hit, and stops evictable InMemoryRelations
      // accumulating across the suite
      spark.catalog.clearCache()
      // scratch hygiene: table-building queries (the dba_* family) land
      // temp tables under java.io.tmpdir and never return to them — left
      // in place, dozens of sf-sized tables accumulate over a 139-query
      // × 3-run suite and the page-cache/GC pressure bleeds into the
      // NEXT query's measurement (dba_iceberg_dv measured 1.1 s isolated
      // vs 1.8 s after its alphabetical predecessor). Sweep them, then
      // let the JVM settle so query N's garbage isn't billed to N+1.
      sweepScratch()
      System.gc()
    }
    Rung(sfDir, samples.toMap, failures.toMap)
  }

  /** Min wall of [[IsoRuns]] runs of one query ALONE at `dir` — caches
    * cleared, scratch swept, JVM settled before each sample. A thrown
    * sample is NOT a timing (a fast abort would masquerade as "does not
    * reproduce isolated" and bury a real regression): it is logged and
    * skipped, and None means every sample failed.
    */
  private def timeIsolated(spark: SparkSession, name: String, fn: Query,
                           dir: String): Option[Double] =
    (1 to IsoRuns).flatMap { _ =>
      spark.catalog.clearCache(); sweepScratch(); System.gc()
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] isolated $name failed at $dir: ${e.getMessage}")
        None
      }
    }.minOption

  /** This process's scratch root: main() points java.io.tmpdir here
    * before any query runs, so every table-building query's
    * createTempDirectory lands inside it — and the between-query sweep
    * can never touch a CONCURRENT bench/test run's live temp tables
    * (they live under the original tmpdir, outside this root).
    */
  private val scratchRoot: Path = {
    val r = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_bench_${ProcessHandle.current().pid()}")
    Files.createDirectories(r)
    r
  }

  /** Delete this process's graft_* scratch dirs (under [[scratchRoot]]). */
  private def sweepScratch(): Unit = {
    val tmp = scratchRoot.toFile
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** One machine-readable host-state snapshot: /proc/loadavg (1/5/15-min
    * load + runnable count) and the hypervisor-steal tick counters from
    * /proc/stat. The r19 decade adjudications leaned on prose ("in-VM load
    * 2.4–4.3 with zero runnable user processes"); recording the same
    * numbers into the artifact lets a degraded-window cycle self-label and
    * the regression gate annotate instead of the builder narrating.
    * Unreadable /proc (non-Linux) degrades to -1 sentinels, never throws.
    */
  private[graft] case class HostSnap(load1: Double, load5: Double,
                                     load15: Double, runnable: Long,
                                     stealTicks: Long, totalTicks: Long) {
    def node: ObjectNode = mapper.createObjectNode()
      .put("load1", load1).put("load5", load5).put("load15", load15)
      .put("runnable", runnable).put("steal_ticks", stealTicks)
      .put("total_ticks", totalTicks)
  }

  private[graft] def hostSnap(): HostSnap = try {
    val la = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
    val runnable = la(3).split("/")(0).toLong
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).getOrElse("")
      .split("\\s+").drop(1).flatMap(_.toLongOption)
    // /proc/stat cpu fields: user nice system idle iowait irq softirq steal
    val steal = if (cpu.length > 7) cpu(7) else -1L
    HostSnap(la(0).toDouble, la(1).toDouble, la(2).toDouble, runnable,
      steal, if (cpu.nonEmpty) cpu.sum else -1L)
  } catch { case _: Throwable => HostSnap(-1, -1, -1, -1, -1, -1) }

  /** The artifact's `host` block plus the degraded-window verdict the gate
    * consumes. `degraded` uses only signals that are NOT our own work:
    * the PRE-run 1-minute load and hypervisor steal over the whole run
    * window (mid/post loadavg reflect the bench's own 32 threads, so they
    * are recorded for the reader but never feed the verdict). The load
    * bar is 2.0, calibrated between the two measured populations: by the
    * time main() samples /proc, sbt's OWN startup has load1 at ~1.2 on an
    * otherwise-idle box (measured on the first r20 cycle — 1.19 pre with
    * steal 0.02%, a false "degraded"), while the r19 degraded evenings
    * sat at 2.4–4.3 with zero runnable user processes.
    *
    * Chain-awareness (r20 verdict item 6): a cycle launched minutes after
    * another bench inherits the DEAD run's decaying load1 (the r20 c8
    * driver run read pre-load1 8.61 with steal ≈1.4% purely from the
    * just-finished c32 run) — loadavg is an exponential average, so a
    * corpse decays through it for ~5 minutes while the instantaneous
    * runnable count (loadavg's 4th field) is already back to ~1-2. The
    * load arm therefore also requires the runnable count to corroborate:
    * genuinely contended windows have real runnable tasks (> cpus/4),
    * a decaying corpse does not. Hypervisor steal — CPU taken by
    * neighbors OUTSIDE the VM, invisible to runnable — keeps its own
    * independent arm, which is what flagged the measured r19/r20
    * degraded evenings (steal 5.7%).
    */
  private[graft] def hostJson(pre: HostSnap, mid: Option[HostSnap],
                              post: HostSnap, cpus: Int): (ObjectNode, Boolean) = {
    val stealPct =
      if (pre.stealTicks >= 0 && post.stealTicks >= pre.stealTicks &&
          post.totalTicks > pre.totalTicks)
        100.0 * (post.stealTicks - pre.stealTicks) /
          (post.totalTicks - pre.totalTicks)
      else -1.0
    val degraded = stealPct > 2.0 ||
      (pre.load1 > 2.0 && pre.runnable > cpus / 4)
    val host = mapper.createObjectNode()
    host.set[JsonNode]("pre", pre.node)
    host.set[JsonNode]("mid", mid.fold[JsonNode](NullNode.instance)(_.node))
    host.set[JsonNode]("post", post.node)
    (host.put("steal_pct", stealPct).put("degraded", degraded), degraded)
  }

  /** Print `line` as the FINAL stdout line no matter what the cleanups
    * throw — the driver's 2000-char tail parser reads the last line, and a
    * scratch-deletion or stop()-time failure must not eat it (the exact
    * regression class the r19 tail fix closed; HarnessSpec pins this).
    */
  private[graft] def printFinalLine(line: String, cleanups: (() => Unit)*): Unit = {
    cleanups.foreach { c =>
      try c() catch { case e: Throwable =>
        System.err.println(s"[bench] cleanup failed (summary still prints): ${e.getMessage}")
      }
    }
    println(line)
    System.out.flush()
  }

  /** Render to 3 significant digits — compact enough that a trimmed
    * per-query map fits the driver's tail budget, precise enough for
    * round-over-round speedup ratios (full-precision medians stay in the
    * full artifact).
    */
  private[graft] def sig3(v: Double): String =
    if (!java.lang.Double.isFinite(v)) "0"
    else BigDecimal(v).round(new java.math.MathContext(3))
      .bigDecimal.stripTrailingZeros.toPlainString

  /** Per-query medians for the COMPACT final line, trimmed to a char
    * budget for the serialized map: slowest queries first (they carry the
    * perf signal), as many entries as fit. Returns (map, elidedCount).
    *
    * Why trimmed: the driver captures only a ~2000-char stdout tail and
    * parses its last line, while 154 full-precision entries are ~27 KB —
    * r19/r20 both shipped a final line whose `queries` was either
    * truncated mid-map or elided entirely ("see_full_artifact"), so the
    * driver's PERF per-query comparison computed nothing (r20 verdict
    * item 2). The biggest prefix that fits restores per-query medians to
    * the driver for the queries that matter most; the full map stays in
    * the full artifact(s) on disk.
    */
  private[graft] def trimmedQueriesJson(med: Seq[(String, Double)],
                                        budget: Int): (ObjectNode, Int) = {
    val map = mapper.createObjectNode()
    var chars = 2 // the braces
    var full = false
    for ((k, v) <- med.sortBy { case (n, v) => (-v, n) } if !full) {
      val value = sig3(v)
      // serialized entry: separator, quoted+escaped key, colon, value
      val entry = (if (map.isEmpty) 0 else 1) +
        mapper.writeValueAsString(k).length + 1 + value.length
      if (chars + entry > budget) full = true
      else { map.put(k, new java.math.BigDecimal(value)); chars += entry }
    }
    (map, med.size - map.size)
  }

  private def roundOf(name: String): Int =
    "r0*([0-9]+)".r.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(-1)

  /** Committed `BENCH_*r<N>*.json` artifacts in `dir` with their round
    * numbers, newest round first. */
  private def benchArtifacts(dir: Path = Paths.get(".")): Seq[(Path, Int)] =
    try {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("BENCH_") && n.endsWith(".json") && roundOf(n) >= 0)
          Some(p -> roundOf(n))
        else None
      }.sortBy(-_._2)
      finally s.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cannot list BENCH_* artifacts in " +
        s"${dir.toAbsolutePath.normalize}: $e")
      Nil
    }

  /** The regression gate's baseline: the newest committed bench artifact
    * in `dir` with a `queries` map measured at the SAME headline SF, as
    * (file name, per-query medians); None when none exists. A
    * driver-written artifact (`{n, rc, cpus, sf, tail, parsed}`) holds
    * the bench line under `parsed`. The SF matches by path basename or
    * by value (`0.1` and `/data/sf0.1` agree). The map may be the
    * compact line's trimmed one (the rest counted in `queries_elided`),
    * so the gate compares only the queries it lists. An unreadable
    * artifact is logged and skipped.
    */
  private[graft] def benchBaseline(sfDir: String, dir: Path = Paths.get("."))
      : Option[(String, Map[String, Double])] = {
    def sfBase(p: String): String = Paths.get(p).getFileName.toString
    def sameSf(sf: String): Boolean = sfBase(sf) == sfBase(sfDir) ||
      sf.toDoubleOption.orElse(sfOf(sf)).exists(sfOf(sfDir).contains)
    benchArtifacts(dir).iterator.flatMap { case (p, _) =>
      try {
        val file = mapper.readTree(p.toFile)
        val n = Option(file.get("parsed")).filter(_.isObject).getOrElse(file)
        val sf = Option(n.get("sf")).orElse(Option(file.get("sf")))
          .map(_.asText).getOrElse("")
        val qs = Option(n.get("queries")).fold(Map.empty[String, Double])(
          _.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
        if (qs.nonEmpty && sameSf(sf)) Some((p.getFileName.toString, qs))
        else None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] skipping unreadable bench artifact $p: $e")
        None
      }
    }.nextOption()
  }

  /** Expected big/small wall ratio for an exactly-linear query = the size
    * ratio of the two dirs, derived from their "sf<N>" names (both dirs
    * are env-configurable — hard-coding 10x would mis-flag any other
    * pair). None when either name is unparsable: flags are then OMITTED
    * (null) rather than computed against a guessed ratio — a silent 10.0
    * fallback would mis-flag any honestly data-proportional query on a
    * non-default pair, the exact failure this derivation exists to avoid.
    */
  private def sizeRatio(big: String, small: String): Option[Double] =
    for (b <- sfOf(big); s <- sfOf(small)) yield b / s

  /** The scale factor an `sf<N>` dir name states. */
  private def sfOf(dir: String): Option[Double] =
    "sf([0-9.]+)".r.findFirstMatchIn(Paths.get(dir).getFileName.toString)
      .flatMap(m => m.group(1).toDoubleOption).filter(_ > 0)

  /** Ordered name → number pairs as one JSON object. */
  private def obj(kvs: Seq[(String, AnyVal)]): ObjectNode = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    mapper.valueToTree(m)
  }

  /** The full artifact line from the measured rungs. `order` is the run
    * order (and the key order of every per-query map); `baseline` is the
    * regression gate's (file name, medians); `isolated(name, dir)`
    * re-times one query alone ([[timeIsolated]]); `host` yields the host
    * block and verdict ([[hostJson]]) after the last isolated re-run.
    */
  private[graft] def fullArtifact(runs: Int, orderSeed: Long, order: Seq[String],
                                  big: Rung, small: Option[Rung],
                                  baseline: Option[(String, Map[String, Double])],
                                  isolated: (String, String) => Option[Double],
                                  host: () => (ObjectNode, Boolean)): ObjectNode = {
    val measured = order.filter(big.samples.contains)
    val med = measured.map(n => n -> median(big.samples(n)))
    val mins = measured.map(n => n -> big.samples(n).min)
    val total = med.map(_._2).sum
    val ratio = small.flatMap(s => sizeRatio(big.dir, s.dir))
    if (small.nonEmpty && ratio.isEmpty)
      System.err.println(s"[bench] cannot parse sf<N> from '${big.dir}' / " +
        s"'${small.get.dir}' — scale_flags omitted (ratios still reported)")
    // Round-over-round regression gate: per-query median growth beyond
    // 1.5× the baseline's (noise swings ±20–40 % on this host, so 1.5× is
    // past noise for 3-run medians). The gate is advisory output, not an
    // exit code: the round judge reads it from the artifact. It runs
    // FIRST: regressed queries join the decade isolated watch band below,
    // so a round-over-round uptick gets an isolated decade ratio in the
    // same artifact that reports it (r17 shipped three unadjudicated
    // decade `regressions`; the judge had to cross-read queries_isolated
    // against the baseline by hand)
    val base = baseline.fold(Map.empty[String, Double])(_._2)
    val regs = med.flatMap { case (n, v) =>
      base.get(n).collect { case b if b > 0 && v > 1.5 * b => n -> v / b }
    }
    val regNames = regs.map(_._1)
    // scaling block: per-query medians at the small SF, per-query wall
    // ratio big/small, total ratio, and the superlinear flags
    val scale = small.map { case Rung(d, sSamples, sFailures) =>
      val sMed = measured.flatMap(n => sSamples.get(n).map(xs => n -> median(xs)))
      val sMin = measured.flatMap(n => sSamples.get(n).map(xs => n -> xs.min))
      val sTotal = sMed.map(_._2).sum
      val ratios = sMed.flatMap { case (n, sv) =>
        med.find(_._1 == n).collect { case (_, bv) if sv > 0 => n -> (bv / sv) }
      }
      // flag input: per-query MINIMA at both SFs, not medians — the min is
      // the run least contaminated by host stalls, so a transient freeze in
      // one sample cannot manufacture a superlinear flag (round 7's
      // mm_binary_pipeline false-flag came from a median-polluting stall)
      val ratiosMin = sMin.flatMap { case (n, sv) =>
        mins.find(_._1 == n).collect { case (_, bv) if sv > 0 => n -> (bv / sv) }
      }
      // The documented bar (BASELINE.md): on a DECADE rung (10× data)
      // a per-query min ratio > 3× is super-linear growth on this
      // suite — the suite-wide decade ratio holds ≈1.7×, so 3× is far
      // past data-proportional here and the flags double as the
      // watchlist. Non-decade dir pairs fall back to 1.2×r (there, 3×
      // could exceed honest linearity plus noise headroom).
      val bar = ratio.map(r => if (r >= 10.0) math.max(3.0, 0.3 * r) else 1.2 * r)
      val flagged = bar.fold(Seq.empty[String])(b => ratiosMin.filter(_._2 > b).map(_._1))
      // ADJUDICATE the flags the same way regressions are adjudicated:
      // re-run each flagged query ALONE at BOTH rungs and record the
      // isolated min ratio plus the flags that REPRODUCE isolated. The
      // in-suite flag list above is untouched — this adds the
      // noise-vs-real verdict to the artifact (stream_windowed_agg
      // flagged 3.49× in-suite in r16 but measures 1.5× isolated:
      // big-rung neighbor interference, the same class queries_isolated
      // already adjudicates for the regression gate).
      // Adjudicate the BAND under the bar too (≥80% of it): r16 left six
      // 2.4–3.0× queries with in-suite numbers only — under the flag bar
      // so never re-run isolated, above the suite headline so unproven.
      // Every band member gets an isolated decade ratio in the artifact;
      // scale_flags_isolated still counts only true over-bar repro.
      // ... plus any round-over-round regression names (a real decade
      // regression must reproduce isolated, in-suite noise must not) and
      // the decade canaries ([[ScaleCanaries]])
      val watch = (bar.fold(Seq.empty[String])(b =>
          ratiosMin.filter(_._2 > 0.8 * b).map(_._1)) ++ regNames ++ ScaleCanaries)
        .distinct.filter(measured.contains)
      val isoRatios = watch.flatMap { n =>
        for (sv <- isolated(n, d); bv <- isolated(n, big.dir); if sv > 0)
          yield n -> (bv / sv)
      }
      val o = mapper.createObjectNode()
      o.put("sf_small", d).put("total_small", sTotal)
      ratio.fold(o.putNull("size_ratio"))(o.put("size_ratio", _))
      o.put("scale_ratio_total", if (sTotal > 0) total / sTotal else 0.0)
      o.set[JsonNode]("queries_small", obj(sMed))
      o.set[JsonNode]("scale_ratio", obj(ratios))
      o.set[JsonNode]("scale_ratio_min", obj(ratiosMin))
      // flags are null when the size ratio is unknown (see sizeRatio)
      def flags(ns: Seq[String]): JsonNode =
        if (ratio.isEmpty) NullNode.instance else mapper.valueToTree(ns.asJava)
      o.set[JsonNode]("scale_flags", flags(flagged))
      o.set[JsonNode]("scale_ratio_isolated", obj(isoRatios))
      o.set[JsonNode]("scale_flags_isolated",
        flags(isoRatios.filter(r => bar.exists(r._2 > _)).map(_._1)))
      // a query failing ONLY at the small SF would otherwise vanish from
      // queries_small/scale_ratio with stderr-only evidence
      o.set[JsonNode]("errors_small", obj(sFailures.toSeq.sortBy(_._1)))
      o
    }
    // ISOLATED re-measure: after the whole suite, re-run the flagged
    // regressors plus the [[IsolateCanaries]] ALONE and record the
    // per-query isolated MINIMA. This is the noise-vs-regression
    // adjudication number: a real regression reproduces isolated, a
    // page-cache/host-noise artifact does not, and the judge can read
    // it from the artifact instead of re-benching. -1 = every isolated
    // sample failed (artifact-visible).
    val isolate = (regNames ++ IsolateCanaries).distinct.filter(measured.contains)
    val iso = isolate.map(n => n -> isolated(n, big.dir).getOrElse(-1.0))
    // host state AFTER every measured run (suite + isolated re-runs): the
    // pre→post steal delta and the pre loadavg are the degraded-window
    // verdict; a degraded window with nonempty flags/regressions gets a
    // machine-readable annotation so the judge never has to take prose on
    // faith (r19 verdict item: "make host state machine-readable")
    val (hostBlock, degraded) = host()

    val line = mapper.createObjectNode()
    line.put("metric", "total").put("value", total).put("unit", "sec")
      .put("runs", runs).put("order_seed", orderSeed)
    line.set[JsonNode]("queries", obj(med))
    line.set[JsonNode]("queries_min", obj(mins))
    line.set[JsonNode]("errors", obj(big.failures.toSeq.sortBy(_._1)))
    line.put("sf", big.dir)
    line.set[JsonNode]("host", hostBlock)
    if (degraded && (regNames.nonEmpty ||
        scale.exists(_.get("scale_flags").size > 0)))
      line.put("host_note", "degraded_window_flags_suspect")
    baseline match {
      case None => line.putNull("baseline").putNull("regressions")
      case Some((file, _)) =>
        line.put("baseline", file).set[JsonNode]("regressions", obj(regs))
    }
    if (isolate.nonEmpty) {
      line.set[JsonNode]("queries_isolated", obj(iso))
      line.put("isolated_runs", IsoRuns)
      // machine-readable adjudication of the regression gate: isolated
      // min ÷ baseline median per regressed query. < 1.5 (the gate's own
      // bar) means the in-suite uptick does not reproduce alone — host
      // noise; ≥ 1.5 means a real regression. -1 = all isolated runs
      // failed (inherits queries_isolated's failure sentinel).
      if (regNames.nonEmpty)
        line.set[JsonNode]("regressions_isolated", obj(iso.collect {
          case (n, v) if regNames.contains(n) =>
            n -> base.get(n).filter(_ > 0).fold(-1.0)(b => if (v < 0) -1.0 else v / b)
        }))
    }
    scale.foreach(line.setAll[JsonNode](_))
    line
  }

  /** The compact summary for stdout-tail parsers, read off the full
    * artifact: headline numbers, counts, and `queries` as the TRIMMED
    * slowest-first per-query map (see [[trimmedQueriesJson]]) — the whole
    * line must stay inside [[TailBudget]] or the per-query half of the
    * bench contract is unmet (r20 verdict item 2). `full_artifact` is the
    * written file, null when none was written: the line never points at a
    * file that does not exist.
    */
  private[graft] def compactLine(full: ObjectNode, artifact: Option[String]): ObjectNode = {
    val c = mapper.createObjectNode()
    Seq("metric", "value", "unit", "runs", "sf").foreach(k => c.set[JsonNode](k, full.get(k)))
    c.put("n_queries", full.get("queries").size)
      .put("n_errors", full.get("errors").size)
      .put("n_regressions", full.get("regressions").size)
    c.set[JsonNode]("scale_ratio_total",
      Option(full.get("scale_ratio_total")).getOrElse(NullNode.instance))
    c.set[JsonNode]("host_degraded", full.get("host").get("degraded"))
    val med = full.get("queries").properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue.asDouble())
    c.set[JsonNode]("queries", mapper.createObjectNode())
    c.put("queries_elided", med.size)
    artifact.fold(c.putNull("full_artifact"))(c.put("full_artifact", _))
    // everything but the map's own "{}" counts against the budget
    val (map, elided) = trimmedQueriesJson(med,
      TailBudget - (mapper.writeValueAsString(c).length - 2))
    c.set[JsonNode]("queries", map)
    c.put("queries_elided", elided)
  }

  def main(args: Array[String]): Unit = {
    // point java.io.tmpdir at the per-PID scratch root BEFORE any query
    // (or Spark local dir) is created — see [[scratchRoot]]
    System.setProperty("java.io.tmpdir", scratchRoot.toString)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).filter(_ > 0).getOrElse(3)
    // second scaling point: set SPARK_GRAFT_SCALE_DIR= (empty) to disable
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/testdata/sf0.01")
    // host state BEFORE any work starts: this is the one loadavg sample
    // that measures the NEIGHBORS, not us (see hostJson)
    val hostPre = hostSnap()
    val spark = GraftSession.local(cpus)
    // Warmup: absorb session/codegen/parquet-footer startup so the first
    // measured query isn't charged for it.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // Warmup 2: the percentile_approx/HLL sketch aggregates run
    // INTERPRETED (ObjectHashAggregate — no codegen) and pay a one-time
    // per-JVM JIT cost that had dba_table_stats_approx sitting atop the
    // bench table for three rounds at 2.5–7.5 s. One untimed execution
    // absorbs it (JIT warmup is data-independent, so the cheapest dir
    // available does); the timed medians then reflect steady state.
    try SparkEntry.queries.get("dba_table_stats_approx").foreach { fn =>
      val warmDir = if (scaleDir.nonEmpty && Files.isDirectory(Paths.get(scaleDir)))
        scaleDir else sfDir
      fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stats_approx warmup failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()
    // Optional subset for local iteration (SparkEntry owns the contract).
    val only = SparkEntry.querySubset
    // per-round deterministic run order (seed = newest committed bench
    // round + 1): same order within a round's passes so the two scaling
    // rungs stay comparable, a DIFFERENT order across rounds (retiring the
    // alphabetical page-cache-interference class where a predecessor's
    // table construction pollutes its successor's measurement)
    val orderSeed = benchArtifacts().headOption.fold(0)(_._2) + 1L
    val queries = new scala.util.Random(orderSeed)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // small-SF pass first (see scaladoc), then the headline pass
    val smallDir = Some(scaleDir).filter(d => d.nonEmpty && d != sfDir &&
      Files.isDirectory(Paths.get(d)))
    val small = smallDir.map(d => runSuite(spark, d, queries, runs))
    val hostMid = small.map(_ => hostSnap()) // between the two rungs
    val big = runSuite(spark, sfDir, queries, runs)
    val byName = queries.toMap
    val full = fullArtifact(runs, orderSeed, queries.map(_._1), big, small,
      benchBaseline(sfDir), (n, dir) => timeIsolated(spark, n, byName(n), dir),
      () => hostJson(hostPre, hostMid, hostSnap(), cpus))
    val line = mapper.writeValueAsString(full)
    println(line)
    // Persist the full line to file(s): the driver captures only a
    // 2000-char stdout tail, which truncates the ~26 KB line above.
    // Env-overridable; failures to write are reported but never fail the
    // bench, and the absolute path is always logged. By default BOTH the
    // legacy name and a per-cpu-run name are written, so a chained driver
    // cycle (32-core then 8-core) preserves each run's full artifact
    // instead of the second overwriting the first (r20 verdict: the c8
    // run's host-block adjudication was unreproducible because
    // bench_out.json had been clobbered).
    val outPaths: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some("") => Nil
      case Some(p)  => Seq(p)
      case None     => Seq("bench_out.json", s"bench_out_c$cpus.json")
    }
    val written = outPaths.filter { outPath =>
      try {
        val p = Paths.get(outPath)
        Files.write(p, (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] wrote ${p.toAbsolutePath.normalize}")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
        false
      }
    }
    // Everything that can still write to stdout/stderr happens BEFORE the
    // compact summary below, so the driver's tail ends with one parseable
    // JSON line: Spark's own stop()-time logging is capped at ERROR, the
    // scratch sweep precedes the print, and build.sbt routes forked stdout
    // raw (StdoutOutput) with sbt's trailing "[success]" line suppressed.
    // The cleanups run under printFinalLine's try/catch: a stop()-time or
    // scratch-deletion failure is stderr-logged and the summary still
    // prints as the final stdout line (the r19 fix's one remaining hole).
    printFinalLine(
      mapper.writeValueAsString(compactLine(full, written.lastOption)),
      () => { spark.sparkContext.setLogLevel("ERROR"); spark.stop() },
      () => deleteRecursively(scratchRoot.toFile)) // this run's root only
  }
}
