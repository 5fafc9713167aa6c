package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind every graft main (Bench,
  * Verify, harness.Probe, the two tokenizer training mains) and the test
  * suite, so the settings the engine depends on are written once:
  * `spark.sql.legacy.parquet.nanosAsLong` + a UTC session time zone (the
  * `events.ts` encodings `Tables.events` normalises rely on both), one
  * shuffle partition per core, AQE on, no UI.
  */
object GraftSession {

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(4)

  /** `local[cpus]` session with shuffle partitions = `cpus`; returns the
    * running session (with these confs applied) if one exists. */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
