package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload lake|analytics --seed N --seconds S --trace 0|1
  *   --cores N --work DIR --results DIR --fingerprints FILE
  * perfbench.Main --write-fingerprints FILE --cores N --work DIR
  * }}}
  *
  * Writes the result object (correct, attempted, failed, metrics) to
  * `results/<workload>-s<seed>-t<trace>.result.json`, and the run's detail
  * (samples, host state, checks, per-layer and span summaries) beside it.
  */
object Main {
  val Workloads = Seq("lake", "analytics")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args.getOrElse("cores", "4").toInt
    val work = args("work")
    args.get("write-fingerprints") match {
      case Some(out) => writeFingerprints(cores, work, out)
      case None => run(jvmStartMs, args, cores, work)
    }
  }

  private def run(jvmStartMs: Long, args: Map[String, String], cores: Int,
                  work: String): Unit = {
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (${Workloads.mkString(", ")})")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val results = args("results")

    val spark = Session.local(cores, work)
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val probe = new Probe(tracer, sc)
    val wl: Workload = workload match {
      case "lake" => new Lake(spark, probe, seed, work)
      case "analytics" =>
        val fps = loadFingerprints(args("fingerprints"))
        if (!fps.cores.contains(cores)) System.err.println(
          s"[perfbench] fingerprints were recorded at ${fps.cores.mkString(", ")} cores, not $cores")
        new Analytics(spark, probe, seed, work, fps)
    }
    wl.setup()

    // the timed phase
    tracer.foreach { t => org.apache.spark.PerfbenchBus.drain(sc); t.reset() }
    probe.reset()
    val fs0 = Storage.snapshot()
    val host0 = Host.sample()
    val t0Us = Clock.nowUs()
    val t0 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def spanned(op: Op) = op.copy(run = () => probe.op(op.name)(op.run()))
    val samples = Loop.run(wl.rounds.map(_.map(spanned)), t0 + (seconds * 1e9).toLong,
      wl.closing.map(spanned))
    val wallS = (System.nanoTime() - t0) / 1e9
    val t1Us = Clock.nowUs()
    val host = HostState(Host.cpus(), host0, Host.sample())
    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val fs = Storage.snapshot() - fs0

    // untimed: correctness and end-of-run sampling
    val checks = wl.verify()
    val amp = wl match {
      case l: Lake => l.amplification(fs.bytesWritten)
      case _ => Nil
    }
    val tree = wl.tableRoot.map(Storage.tree).getOrElse(Storage.Tree(0, 0, 0))

    val good = samples.filter(_.ok).map(_.seconds)
    val failedChecks = checks.count(!_._2)
    val attempted = samples.size.toLong
    val failed = samples.count(!_.ok).toLong + failedChecks
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> good.size / wallS,
      "op_p50_s" -> (if (good.isEmpty) 0.0 else Stats.median(good)),
      "op_p90_s" -> (if (good.isEmpty) 0.0 else Stats.percentile(good, 0.9)),
      "peak_rss_mb" -> Host.peakRssMb())
    val correct = failed == 0 && good.nonEmpty

    val detail = Json.obj()
    detail.put("workload", workload).put("seed", seed).put("trace", traced)
      .put("seconds", seconds).put("timed_wall_s", wallS).put("cores", cores)
    detail.set[ObjectNode]("host", host.toJson)
    val ck = detail.putObject("checks")
    checks.foreach { case (k, v) => ck.put(k, v) }
    detail.put("p90_samples_beyond", Stats.beyond(good.size, 0.9))
    detail.put("p90_rule_met", good.size >= Stats.minSamples(0.9, 10))
    detail.put("error_rate", failed.toDouble / math.max(1L, attempted))
    val e2eNode = detail.putObject("end_to_end")
    e2e.foreach { case (k, v) => e2eNode.put(k, v) }
    val arr = detail.putArray("samples")
    samples.foreach { s =>
      val o = arr.addObject()
      o.put("op", s.name).put("s", s.seconds).put("ok", s.ok)
      if (s.error.nonEmpty) o.put("error", s.error)
    }

    val metrics = tracer match {
      case None => Metrics.select(Metrics.EndToEnd, e2e)
      case Some(t) =>
        val values = layerValues(probe, t, t0Us, t1Us, fs, tree) ++
          amp.map(m => m.name -> m.value) ++ Seq(
            "error_rate" -> failed.toDouble / math.max(1L, attempted),
            "peak_rss_mb" -> e2e("peak_rss_mb"))
        val shares = detail.putObject("layer_shares")
        Metrics.Layers.foreach { l =>
          val busy = probe.callNames.filter(_.startsWith(l + ".")).map(probe.busySeconds).sum
          if (busy > 0) shares.putObject(l).put("busy", busy / wallS)
            .put("self", values.getOrElse(s"$l.self_s", 0.0) / wallS)
        }
        shares.putObject("spark").put("jobs", values("spark.job_busy_s") / wallS)
          .put("driver_gap", values("spark.driver_gap_s") / wallS)
        val untraced = new File(results, s"$workload-s$seed-t0.detail.json")
        if (untraced.exists()) {
          val base = Json.mapper.readTree(untraced).get("end_to_end")
          val over = detail.putObject("tracing_overhead")
          e2e.foreach { case (k, v) => over.put(k, v - base.get(k).asDouble()) }
        }
        writeSpans(t, new File(results, s"$workload-s$seed-t1.spans.json"))
        Metrics.select(Metrics.PerLayer, values)
    }
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    samples.filterNot(_.ok).take(5).foreach(s =>
      System.err.println(s"[perfbench] ${s.name} failed: ${s.error}"))
    val tag = s"$workload-s$seed-t${if (traced) 1 else 0}"
    Json.write(new File(results, s"$tag.detail.json").getPath, detail)
    Json.write(new File(results, s"$tag.result.json").getPath,
      Json.result(correct, attempted, failed, metrics))
    spark.stop()
  }

  /** Per-layer values of a traced run over the timed window [t0Us, t1Us]. */
  private def layerValues(probe: Probe, t: Tracer, t0Us: Long, t1Us: Long,
                          fs: Storage.Counters, tree: Storage.Tree): Map[String, Double] = {
    val spans = t.allSpans
    val jobs = spans.filter(_.kind == "job")
    val callSpans = spans.filter(_.kind == "call")
    val self = callSpans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, cs) => s"$layer.self_s" -> cs.map(Spans.selfUs(_, jobs)).sum / 1e6 }
    val jobBusy = Spans.covered((t0Us, t1Us), jobs.map(j => (j.startUs, j.endUs))) / 1e6
    val calls = probe.callNames.flatMap { n =>
      val Array(layer, fn) = n.split("\\.", 2)
      if (Analytics.Modules.contains(layer)) {
        val kind = if (fn == "build") "build_s" else "exec_s"
        Seq(s"$layer.$kind" -> probe.busySeconds(n)) ++
          (if (fn == "build") Seq(s"$layer.queries" -> probe.callCount(n).toDouble) else Nil)
      } else Seq(s"$n.calls" -> probe.callCount(n).toDouble, s"$n.busy_s" -> probe.busySeconds(n))
    }
    val counts = Seq("merge.files_rewritten", "merge.files_skipped", "readWhere.files_scanned",
      "readWhere.files_skipped").flatMap(c => Seq("delta", "iceberg").map(l =>
        s"$l.$c" -> probe.count(s"$l.$c").toDouble))
    val spark = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
      "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
      "spark.output_bytes", "catalyst.executions", "catalyst.analysis_s",
      "catalyst.optimization_s", "catalyst.planning_s").map(k => k -> t.counter(k))
    (calls ++ counts ++ spark ++ self ++ Seq(
      "spark.single_task_jobs" -> t.singleTaskJobs.toDouble,
      "spark.job_busy_s" -> jobBusy,
      "spark.driver_gap_s" -> ((t1Us - t0Us) / 1e6 - jobBusy),
      "storage.bytes_read" -> fs.bytesRead.toDouble,
      "storage.bytes_written" -> fs.bytesWritten.toDouble,
      "storage.read_ops" -> fs.readOps.toDouble,
      "storage.write_ops" -> fs.writeOps.toDouble,
      "storage.large_read_ops" -> fs.largeReadOps.toDouble,
      "storage.table_files" -> tree.dataFiles.toDouble,
      "storage.log_files" -> tree.logFiles.toDouble,
      "storage.table_bytes" -> tree.bytes.toDouble)).toMap
  }

  private def writeSpans(t: Tracer, f: File): Unit = {
    val root = Json.obj()
    val arr = root.putArray("spans")
    val spans = t.allSpans
    val jobs = spans.filter(_.kind == "job")
    // a job belongs to the op of the call that submitted it
    val opOfCall = spans.filter(_.kind == "call").map(c => c.id -> c.op).toMap
    spans.sortBy(_.startUs).foreach { s =>
      val o = arr.addObject()
      val op = if (s.kind == "job") opOfCall.getOrElse(s.parent, 0L) else s.op
      o.put("id", s.id).put("parent", s.parent).put("op", op).put("name", s.name)
        .put("kind", s.kind).put("start_us", s.startUs).put("end_us", s.endUs)
      if (s.kind == "call") o.put("self_us", Spans.selfUs(s, jobs))
    }
    Json.write(f.getPath, root)
  }

  /** The recorded analytics fingerprints and the core counts (session
    * parallelism and shuffle partitions) they were recorded at. */
  final case class Fingerprints(cores: Seq[Int], queries: Map[String, Fingerprint])

  def loadFingerprints(path: String): Fingerprints = {
    val root = Json.mapper.readTree(new File(path))
    val q = root.get("queries")
    Fingerprints(root.get("cores").elements().asScala.map(_.asInt()).toSeq,
      q.fieldNames().asScala.map { k =>
        val v = q.get(k)
        k -> Fingerprint(v.get("rows").asLong(), v.get("hash").asLong())
      }.toMap)
  }

  /** Record the fingerprint of every non-`dba_` query on the analytics
    * data at `cores` cores; a query whose two fingerprints differ is
    * nondeterministic and left out. If `out` exists, its fingerprints must
    * be the same, and `cores` joins its list of core counts. */
  private def writeFingerprints(cores: Int, work: String, out: String): Unit = {
    val spark = Session.local(cores, work)
    val dir = s"$work/data"
    Gen.writeAll(spark, Analytics.DataSeed, dir)
    val fps = Analytics.allQueries.flatMap { q =>
      def fp() = try Fingerprint.of(graft.SparkEntry.queries(q)(spark, dir))
        finally spark.catalog.clearCache()
      val (a, b) = (fp(), fp())
      if (a != b) System.err.println(s"[perfbench] $q is nondeterministic: $a vs $b")
      if (a == b) Some(q -> a) else None
    }.toMap
    spark.stop()
    val before = if (new File(out).exists()) Some(loadFingerprints(out)) else None
    before.foreach { b =>
      val differ = (b.queries.keySet ++ fps.keySet).filter(q => b.queries.get(q) != fps.get(q))
      differ.toSeq.sorted.foreach(q => System.err.println(
        s"[perfbench] $q at $cores cores: ${fps.get(q)}, recorded ${b.queries.get(q)}"))
      require(differ.isEmpty, s"${differ.size} fingerprints differ at $cores cores")
    }
    val root = Json.obj()
    val cs = root.putArray("cores")
    (before.map(_.cores).getOrElse(Nil) :+ cores).distinct.sorted.foreach(c => cs.add(c))
    val q = root.putObject("queries")
    fps.toSeq.sortBy(_._1).foreach { case (k, f) =>
      q.putObject(k).put("rows", f.rows).put("hash", f.hash) }
    Json.write(out, root)
  }
}
