package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Unigram language-model quality scoring — the CCNet-style LM-filter
  * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): score a document by its mean token
  * log-probability under a reference LM; low scores flag junk, boilerplate
  * and wrong-language text that lexical ratios (C9) miss. The full CCNet
  * recipe uses a 5-gram KenLM; the unigram form is the same pipeline shape
  * with an exactly-reproducible model.
  *
  * Model handling is the literal-model pattern (Bpe.DefaultMerges, IVF
  * centroids): [[DefaultVocab]] is the corpus vocabulary with add-one-
  * smoothed log10 probabilities — p(tok) = (c+1)/(T+V+1), OOV = the +1
  * mass — trained once (one word-frequency aggregation; text never
  * shuffles) and checked in, so the oracle is STATIC SQL over the same
  * literals. Regenerate with `runMain graft.functions.UnigramLmTrainMain`.
  *
  * Cross-engine exactness: log-probs are pre-computed and stored as
  * MICRO-units (round(log10(p)·1e6), a Long), so the per-document
  * aggregation is an exact integer sum in BOTH engines — no engine-side
  * transcendental math, no float-summation order sensitivity. The only
  * floating step is one final division, deterministic in IEEE double.
  *
  * Scale shape: scoring is one scan-stage pass — the native
  * [[UnigramLpSum]] expression tokenizes, looks up, and sums per ROW in
  * one compiled call (the ~V-entry table rides along as a codegen
  * reference object), so scoring is entirely shuffle-free and stays
  * inside whole-stage codegen. At 100 TB this costs exactly one pass
  * over the text bytes.
  */
object UnigramLm {

  /** Corpus vocabulary → add-one-smoothed log10 p in micro-units, trained
    * on /root/testdata/sf0.01 documents (31 distinct tokens — the
    * synthetic corpus's full vocabulary; replica-suffix tokens in the
    * scaled corpora fall to OOV, exactly the junk-detection the score
    * exists for).
    */
  val DefaultVocab: Seq[(String, Long)] = Seq(
    ("join", -1449994L), ("hash", -1457713L), ("row", -1459549L),
    ("batch", -1462318L), ("scan", -1462781L), ("column", -1463709L),
    ("customer", -1463709L), ("filter", -1464174L), ("small", -1466505L),
    ("merge", -1471205L), ("slow", -1471205L), ("order", -1474050L),
    ("vector", -1474050L), ("line", -1475003L), ("data", -1475957L),
    ("table", -1475957L), ("agg", -1479314L), ("value", -1481245L),
    ("key", -1481729L), ("stream", -1485619L), ("window", -1486597L),
    ("a", -1489545L), ("spark", -1489545L), ("group", -1490532L),
    ("part", -1490532L), ("big", -1491521L), ("sort", -1493507L),
    ("query", -1494005L), ("fast", -1502555L), ("the", -1509725L),
    ("dup", -3003157L))

  /** log10 of the smoothing mass 1/(T+V+1), micro-units — every token not
    * in [[DefaultVocab]] scores this.
    */
  val OovLogpMicro: Long = -4434521L

  /** Sum of token log-probs in micro-units for a text column — one
    * compiled native-expression call per row ([[UnigramLpSum]]; the
    * built-in higher-order `aggregate` fold computes the same value but
    * is CodegenFallback, which would knock the scan projection out of
    * whole-stage codegen on the hottest path this operator has).
    */
  def lp_sum(text: Column,
             vocab: Seq[(String, Long)] = DefaultVocab,
             oov: Long = OovLogpMicro): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      UnigramLpSum(org.apache.spark.sql.GraftColumnBridge.expression(text),
        vocab, oov))

  /** Mean token log10-probability per document (plus the token count the
    * mean is over). More negative = less like the reference corpus.
    */
  def textLmScore(s: SparkSession, dir: String,
                  vocab: Seq[(String, Long)] = DefaultVocab,
                  oov: Long = OovLogpMicro): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        lp_sum(col("text"), vocab, oov).as("__lp"))
      .withColumn("lm_score",
        col("__lp").cast("double") / (col("n_tokens").cast("double") * 1e6))
      .select("doc_id", "n_tokens", "lm_score")

  /** CCNet's head/middle/tail split (Wenzek et al. §4.3): per LANGUAGE,
    * rank documents by LM score and cut the corpus into thirds — head =
    * best-scoring third (most like the reference corpus), tail = worst.
    * CCNet keeps head+middle for pretraining; the bucket column is the
    * exact signal that decision consumes.
    *
    * Cut points are discrete order statistics (percentile_disc at 1/3 and
    * 2/3: the smallest score whose ascending cumulative count covers the
    * fraction), NOT interpolated quantiles — thresholds are then values
    * the data actually contains, and every comparison is between doubles
    * BOTH engines computed from identical integer operands, so the
    * bucketing is hash-exact cross-engine with no epsilon anywhere.
    *
    * Scale shape: scoring is the same shuffle-free scan as
    * [[textLmScore]]; the cumulative window rides the COMPRESSED
    * (lang, distinct score) histogram (workload-compressed, like the SCD2
    * interval stitch), never the documents; the 2-row-per-language
    * threshold table broadcasts back. Text bytes are read twice and
    * shuffled never.
    */
  def corpusCcnetBuckets(s: SparkSession, dir: String,
                         vocab: Seq[(String, Long)] = DefaultVocab,
                         oov: Long = OovLogpMicro): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        (lp_sum(col("text"), vocab, oov).cast("double") /
          (size(split(col("text"), " ")).cast("double") * 1e6)).as("lm_score"))
    val hist = scored.groupBy("lang", "lm_score").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("lang").orderBy("lm_score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("lang")
    val cum = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wTot))
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("n"), col("lm_score"))).as("t33"),
      min(when(col("cum") * 3 >= col("n") * 2, col("lm_score"))).as("t67"))
    scored.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("lm_score") <= col("t33"), lit("tail"))
          .when(col("lm_score") <= col("t67"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The same literals as SQL; the integer sum makes the score
    * hash-exact, the one division mirrors the Spark side operand-for-
    * operand.
    */
  val textLmScoreOracle: String = {
    val rows = DefaultVocab
      .map { case (t, lp) => s"(${sqlQuote(t)}, ${lp}::BIGINT)" }
      .mkString(",\n    ")
    s"""WITH v(tok, lp) AS (VALUES
       |    $rows),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |sc AS (SELECT doc_id, COALESCE(l.lp, ${OovLogpMicro}::BIGINT) AS lp
       |       FROM w LEFT JOIN v l USING (tok))
       |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       |  CAST(SUM(lp) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
       |    AS lm_score
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Same CTE chain as the Spark plan: score → distinct-score histogram →
    * ascending cumulative counts → discrete thirds → bucket.
    */
  val corpusCcnetBucketsOracle: String = {
    val rows = DefaultVocab
      .map { case (t, lp) => s"(${sqlQuote(t)}, ${lp}::BIGINT)" }
      .mkString(",\n    ")
    s"""WITH v(tok, lp) AS (VALUES
       |    $rows),
       |w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |      FROM documents),
       |sc AS (SELECT doc_id, lang,
       |         CAST(SUM(COALESCE(l.lp, ${OovLogpMicro}::BIGINT)) AS DOUBLE)
       |           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS lm_score
       |       FROM w LEFT JOIN v l USING (tok) GROUP BY doc_id, lang),
       |hist AS (SELECT lang, lm_score, COUNT(*) AS c
       |         FROM sc GROUP BY lang, lm_score),
       |cum AS (SELECT lang, lm_score,
       |          SUM(c) OVER (PARTITION BY lang ORDER BY lm_score
       |                       ROWS UNBOUNDED PRECEDING) AS cum,
       |          SUM(c) OVER (PARTITION BY lang) AS n
       |        FROM hist),
       |th AS (SELECT lang,
       |         MIN(CASE WHEN cum * 3 >= n THEN lm_score END) AS t33,
       |         MIN(CASE WHEN cum * 3 >= n * 2 THEN lm_score END) AS t67
       |       FROM cum GROUP BY lang)
       |SELECT doc_id, sc.lang, lm_score,
       |  CASE WHEN lm_score <= t33 THEN 'tail'
       |       WHEN lm_score <= t67 THEN 'middle'
       |       ELSE 'head' END AS bucket
       |FROM sc JOIN th ON sc.lang = th.lang
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_score" -> ((s: SparkSession, d: String) => textLmScore(s, d)),
    "corpus_ccnet_buckets" -> ((s: SparkSession, d: String) => corpusCcnetBuckets(s, d)))

  val oracles: Map[String, String] = Map(
    "text_lm_score" -> textLmScoreOracle,
    "corpus_ccnet_buckets" -> corpusCcnetBucketsOracle)
}

/** Native expression: Σ log10 p(token) in micro-units over the space-split
  * tokens of `child`, under a fixed literal vocabulary — tokenize, look
  * up, and sum in ONE compiled call per row inside the whole-stage-codegen
  * span. Splitting mirrors `split(text, " ")` INCLUDING empty segments
  * (an empty segment scores OOV), so `n_tokens = size(split(...))` and
  * the oracle's `string_split` see the identical token stream.
  */
case class UnigramLpSum(child: org.apache.spark.sql.catalyst.expressions.Expression,
                        vocab: Seq[(String, Long)], oov: Long)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.check("graft_unigram_lp_sum", child.dataType,
      "vocab" -> vocab.length)

  @transient private lazy val m: java.util.HashMap[String, java.lang.Long] = {
    val h = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (t, lp) => h.put(t, lp) }
    h
  }

  def sumOf(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    var total = 0L
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        val v = m.get(str.substring(ws, i))
        total += (if (v == null) oov else v.longValue())
        ws = i + 1
      }
      i += 1
    }
    total
  }

  override def nullSafeEval(input: Any): Any =
    sumOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ulm", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sumOf($c);")
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): UnigramLpSum =
    copy(child = newChild)
}

/** Dev main: (re)train [[UnigramLm.DefaultVocab]] from a corpus and print
  * it as Scala literals — `runMain graft.functions.UnigramLmTrainMain
  * [sfDir] [vocabCap]`.
  */
object UnigramLmTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cap = if (args.length > 1) args(1).toInt else 256
    val spark = GraftSession.local(4, "ERROR")
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.count()
    val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(cap).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val v = top.length
    def micro(p: Double): Long = math.round(math.log10(p) * 1e6)
    println(top.map { case (t, c) =>
        s"""("$t", ${micro((c + 1.0) / (total + v + 1.0))}L)""" }
      .grouped(3).map(_.mkString(", ")).mkString(",\n    "))
    println(s"// OOV: ${micro(1.0 / (total + v + 1.0))}L  (T=$total, V=$v)")
    spark.stop()
  }
}
