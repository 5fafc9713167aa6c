package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `analytics` workload, the dbstress shape: `SparkEntry.queries`
  * entries run one after another, each to a fingerprinting sink (every row
  * hashed and counted on the driver), over generated scale-factor-0.1
  * tables. The data is fixed (generator seed [[DataSeed]]) so each result
  * can be checked against its recorded fingerprint; `--seed` shuffles the
  * query order of every pass. A pass runs the whole [[Panel]]. */
final class Analytics(spark: SparkSession, probe: Probe, seed: Long, work: String,
                      expected: Main.Fingerprints) extends Workload {
  import Analytics._

  private val dir = s"$work/data"

  def setup(): Unit = {
    // a query with an empty result would time nothing but planning and
    // could not be checked on a value
    val empty = Panel.filterNot(q => expected.queries.get(q).exists(_.rows > 0))
    require(empty.isEmpty, s"panel queries without a fingerprint with rows: ${empty.mkString(", ")}")
    Gen.writeAll(spark, DataSeed, dir)
    // one untimed pass compiles every panel query's code and warms the JIT,
    // so no timed query is the JVM's first run of its plan; the timed
    // passes check the results
    Panel.foreach { q =>
      try Fingerprint.of(SparkEntry.queries(q)(spark, dir))
      finally spark.catalog.clearCache()
    }
  }

  def rounds: Iterator[Seq[Op]] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.shuffle(Panel).map(op))
  }

  private def op(name: String): Op = Op(name, () => {
    val m = moduleOf(name)
    try {
      val df = probe.call(s"$m.build")(SparkEntry.queries(name)(spark, dir))
      val fp = probe.call(s"$m.exec")(Fingerprint.of(df))
      expected.queries.get(name).contains(fp)
    } finally spark.catalog.clearCache()
  })
}

object Analytics {
  val DataSeed = 42L

  /** A fixed panel of 20 queries covering every query module, about 8 s of
    * work on two cores, so a 20 s run makes two passes: whole passes keep
    * every run's query mix identical. Each query takes 0.25 to 0.7 s,
    * so op latencies spread evenly and a percentile of them moves smoothly.
    * The compute-bound queries of 1 s and more (`q1_pricing_summary`,
    * `q9_product_profit`, `text_tfidf`, `dedup_minhash`, ...) are left
    * out: a pass of them alone would outlast the timed phase. Set-up runs
    * the panel once untimed. */
  val Panel: Seq[String] = Seq(
    "q_semi_join", "q_setops", "q_anti_join", "q6_revenue_delta", "q_topk_per_group",
    "text_lm_score", "text_tokens", "text_tokens_bpe", "text_langid", "text_quality",
    "dedup_simhash", "dedup_exact",
    "ann_lsh", "ann_bruteforce", "emb_quantize",
    "mm_binary_pipeline",
    "stream_interval_join",
    "corpus_mix", "seq_pack", "pipeline_curate")

  /** Module (source package) of each non-`dba_` query. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    def keys(m: Map[String, _]*): Set[String] = m.flatMap(_.keySet).toSet
    val modules = Seq(
      "operators" -> keys(Relational.queries, TpchTail.queries, RangeJoin.queries,
        StarSchema.queries, LakehouseOps.queries),
      "functions" -> keys(graft.functions.TextFuncs.queries, graft.functions.Bpe.queries,
        graft.functions.UnigramLm.queries),
      "dedup" -> keys(graft.dedup.Dedup.queries),
      "ann" -> keys(graft.ann.Ann.queries),
      "multimodal" -> keys(graft.multimodal.Multimodal.queries),
      "streaming" -> keys(graft.streaming.EventStreams.queries),
      "pipeline" -> keys(graft.pipeline.Curate.queries, graft.pipeline.Mix.queries))
    modules.flatMap { case (m, ks) => ks.toSeq.map(_ -> m) }.toMap
      .filter { case (q, _) => !q.startsWith("dba_") }
  }

  val Modules = Seq("operators", "functions", "dedup", "ann", "multimodal", "streaming",
    "pipeline")

  /** Every query the fingerprint file covers. */
  def allQueries: Seq[String] =
    SparkEntry.queries.keys.filterNot(_.startsWith("dba_")).toSeq.sorted
}
