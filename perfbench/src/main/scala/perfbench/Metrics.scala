package perfbench

/** A metric the benchmark reports: name, unit and which direction is
  * better. BENCHMARK.json lists the same names (a test keeps them equal). */
final case class MetricDef(name: String, unit: String, better: String)

object Metrics {
  val EndToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s", "lower"),
    MetricDef("ops_per_s", "ops/s", "higher"),
    MetricDef("op_p50_s", "s", "lower"),
    MetricDef("op_p90_s", "s", "lower"))

  val DeltaFns = Seq("commit", "selectiveMerge", "deleteVectors", "optimizeCompact",
    "optimizeZorder", "vacuum", "read", "readWhere", "changes", "history", "files")
  val IcebergFns = Seq("commit", "selectiveMerge", "deleteRows", "optimizeCompact",
    "optimizeZorder", "expireSnapshots", "read", "readWhere", "changes", "history", "files")
  /** Layers whose calls the benchmark times; self time is reported per layer. */
  val Layers: Seq[String] = Seq("delta", "iceberg", "maintenance") ++ Analytics.Modules

  private def calls(layer: String, fns: Seq[String]) = fns.flatMap(f => Seq(
    MetricDef(s"$layer.$f.calls", "count", "higher"),
    MetricDef(s"$layer.$f.busy_s", "s", "lower")))

  private def skipping(layer: String) = Seq(
    MetricDef(s"$layer.merge.files_rewritten", "count", "lower"),
    MetricDef(s"$layer.merge.files_skipped", "count", "higher"),
    MetricDef(s"$layer.readWhere.files_scanned", "count", "lower"),
    MetricDef(s"$layer.readWhere.files_skipped", "count", "higher"))

  val PerLayer: Seq[MetricDef] =
    calls("delta", DeltaFns) ++ skipping("delta") ++
    calls("iceberg", IcebergFns) ++ skipping("iceberg") ++
    calls("maintenance", Seq("analyze")) ++
    Analytics.Modules.flatMap(m => Seq(
      MetricDef(s"$m.queries", "count", "higher"),
      MetricDef(s"$m.build_s", "s", "lower"),
      MetricDef(s"$m.exec_s", "s", "lower"))) ++
    Layers.map(l => MetricDef(s"$l.self_s", "s", "lower")) ++
    Seq(
      MetricDef("catalyst.executions", "count", "lower"),
      MetricDef("catalyst.analysis_s", "s", "lower"),
      MetricDef("catalyst.optimization_s", "s", "lower"),
      MetricDef("catalyst.planning_s", "s", "lower"),
      MetricDef("spark.jobs", "count", "lower"),
      MetricDef("spark.single_task_jobs", "count", "lower"),
      MetricDef("spark.stages", "count", "lower"),
      MetricDef("spark.tasks", "count", "lower"),
      MetricDef("spark.executor_run_s", "s", "lower"),
      MetricDef("spark.executor_cpu_s", "s", "lower"),
      MetricDef("spark.gc_s", "s", "lower"),
      MetricDef("spark.shuffle_read_bytes", "bytes", "lower"),
      MetricDef("spark.shuffle_write_bytes", "bytes", "lower"),
      MetricDef("spark.spill_bytes", "bytes", "lower"),
      MetricDef("spark.input_bytes", "bytes", "lower"),
      MetricDef("spark.output_bytes", "bytes", "lower"),
      MetricDef("spark.job_busy_s", "s", "lower"),
      MetricDef("spark.driver_gap_s", "s", "lower"),
      MetricDef("storage.bytes_read", "bytes", "lower"),
      MetricDef("storage.bytes_written", "bytes", "lower"),
      MetricDef("storage.read_ops", "count", "lower"),
      MetricDef("storage.write_ops", "count", "lower"),
      MetricDef("storage.large_read_ops", "count", "lower"),
      MetricDef("storage.table_files", "count", "lower"),
      MetricDef("storage.log_files", "count", "lower"),
      MetricDef("storage.table_bytes", "bytes", "lower"),
      MetricDef("write_amp", "ratio", "lower"),
      MetricDef("space_amp", "ratio", "lower"),
      MetricDef("error_rate", "ratio", "lower"),
      // per layer, not end to end: it varies by more than a tenth from run
      // to run (heap growth follows GC timing)
      MetricDef("peak_rss_mb", "MB", "lower"))

  /** Values for `defs` in declaration order; absent values are 0 (a layer
    * the workload never calls). */
  def select(defs: Seq[MetricDef], values: Map[String, Double]): Seq[Metric] =
    defs.map(d => Metric(d.name, values.getOrElse(d.name, 0.0), d.unit))
}
