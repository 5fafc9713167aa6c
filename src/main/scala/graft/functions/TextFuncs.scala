package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2 C8–C11 — text analysis for the training-data pipeline.
  *
  * Everything is a composition of built-in codegen'd functions (`split`,
  * `filter`, `transform`, `aggregate`, `regexp_count`, `xxhash64`) — no
  * UDFs, so the whole block stays inside whole-stage codegen and scales
  * linearly with bytes scanned: per-document work, zero shuffles until the
  * (optional) final aggregation.
  */
object TextFuncs {

  /** Vocabulary bound under which [[textTfidf]] broadcasts the df side:
    * 4M (term, count) rows ≈ low hundreds of MB broadcast — safely under
    * executor memory, far above any natural-language vocabulary this
    * engine has met. Past it, the shuffle join is the right plan anyway.
    */
  private val TfidfBroadcastVocab = 4_000_000L

  // --------------------------------------------------------------- helpers
  private def toks(text: Column): Column = split(text, " ")

  /** Count of tokens that appear in `words` — one compiled pass via the
    * native [[TokenProfileCounts]] (index 0 is the token count, index 1
    * the single profile's hits).
    */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    Text.tokenProfileCounts(text, Seq(words)).getItem(1)

  /** `[n_tokens, score(profile 0), …]` for the langid stopword profiles —
    * ONE compiled tokenize+score pass per row. Materialize this with
    * `withColumn` and derive best/pred/ratio from the array: the alias is
    * non-cheap so CollapseProject keeps it, and every derivation below is
    * a per-row array index.
    */
  def langScores(text: Column): Column =
    Text.tokenProfileCounts(text, stopwordProfiles.map(_._2))

  /** Winning score from a [[langScores]] array (0 when nothing hits). */
  def langBest(scores: Column): Column =
    stopwordProfiles.indices.map(i => scores.getItem(i + 1))
      .foldLeft(lit(0): Column)(greatest(_, _))

  /** Predicted language from a [[langScores]] array: argmax, first-profile
    * tie-break, 'und' when nothing hits.
    */
  def langPred(scores: Column): Column = {
    val best = langBest(scores)
    stopwordProfiles.zipWithIndex.foldRight(lit("und"): Column) {
      case (((l, _), i), els) =>
        when(scores.getItem(i + 1) === best && best > 0, lit(l)).otherwise(els)
    }
  }

  /** Language prediction as a single Column — the reusable core of
    * [[textLangid]] for pipeline composition. (The repeated langScores
    * subtrees are identical, so whole-stage codegen's subexpression
    * elimination evaluates the scan once per row; callers that also need
    * the scores should materialize [[langScores]] and use [[langPred]].)
    */
  def predLang(text: Column): Column = langPred(langScores(text))

  /** Hit count of the WINNING profile (= the greatest per-language score):
    * the language-agnostic quality signal — a doc is "stopwordy" relative
    * to its own predicted language, not to English.
    */
  def bestLangScore(text: Column): Column = langBest(langScores(text))

  // ---- shared oracle-SQL generators (used by textLangidOracle and the
  // curate pipeline's oracle, so the argmax/tie-break/'und' logic lives in
  // exactly one place per engine) ----
  /** One `len(list_filter(...)) AS score_<lang>` expression per profile,
    * over a token-list SQL variable `t`.
    */
  def langScoreSqlExprs(tokensVar: String): Seq[String] =
    stopwordProfiles.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($tokensVar, x -> x IN ($inList))) AS score_$l"
    }

  /** `greatest(0, score_...)` over the per-language score columns. */
  def langBestSql: String =
    stopwordProfiles.map(l => s"score_${l._1}")
      .mkString("greatest(0, ", ", ", ")")

  /** First-match-wins CASE in profile order = predLang's foldRight
    * tie-break; expects `best` to be in scope.
    */
  def langPredSql: String =
    stopwordProfiles.map(_._1)
      .map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")

  // --------------------------------------------------------------- C9
  /** Quality scoring: length / punctuation / stopword / uppercase ratios +
    * a blended score, the standard cheap pre-filters before expensive
    * model-based quality classification.
    */
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** `'the', 'a', …` — the one SQL rendering of [[stopwordsEn]], shared by
    * every oracle that scores against the English profile.
    */
  val stopwordsEnSqlList: String = stopwordsEn.map(w => s"'$w'").mkString(", ")

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    // one tokenize pass serves word count AND stopword hits ([n, hits]);
    // one byte pass serves both char-class ratios (two regexp_replace
    // scans replaced by the native CharClassCounts — same counts)
    val d = Tables.documents(s, dir)
      .withColumn("__c", Text.tokenProfileCounts(col("text"), Seq(stopwordsEn)))
      .withColumn("__cc", Text.charClassCounts(col("text")))
    val nChars = length(col("text"))
    val nWords = col("__c").getItem(0)
    val nPunct = col("__cc").getItem(0)
    val nUpper = col("__cc").getItem(1)
    val nStop = col("__c").getItem(1)
    d.select(
        col("doc_id"),
        nChars.as("n_chars"),
        nWords.as("n_words"),
        (nPunct.cast("double") / nChars).as("punct_ratio"),
        (nUpper.cast("double") / nChars).as("upper_ratio"),
        (nStop.cast("double") / nWords).as("stopword_ratio"),
        (nChars.cast("double") / nWords).as("avg_word_len"))
  }

  val textQualityOracle: String = {
    val inList = stopwordsEnSqlList
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(string_split(text, ' ')) AS n_words,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS stopword_ratio,
       |  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C10
  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (greedy ≤4-letter chunks, digits, and punctuation as single tokens —
    * the shape of byte-pair vocabularies without shipping one).
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(toks(col("text"))).as("n_ws_tokens"),
        Text.bpeEstCount(col("text")).as("n_bpe_est"),
        length(col("text")).as("n_chars"))

  val textTokensOracle: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_est,
      |  length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C8
  /** Language ID, stopword-profile heuristic: score each language by hits
    * against its closed-class word list, argmax wins (ties → highest
    * score first in the fixed list order, 'und' when nothing hits).
    * Cheap single-pass n-gram heuristic — the standard first-stage filter
    * before a real classifier.
    */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "de"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "他"))

  def textLangid(s: SparkSession, dir: String): DataFrame = {
    // the materialized __sc array is scored ONCE per row; every score
    // column, the argmax, and the prediction are plain array indexes
    val d = Tables.documents(s, dir)
      .withColumn("__sc", langScores(col("text")))
    val scored = stopwordProfiles.zipWithIndex.foldLeft(d) {
      case (df, ((lang, _), i)) =>
        df.withColumn(s"score_$lang", col("__sc").getItem(i + 1))
    }
    scored
      .withColumn("best_score", langBest(col("__sc")))
      .withColumn("pred_lang", langPred(col("__sc")))
      .select(Seq(col("doc_id"), col("lang"), col("pred_lang"), col("best_score")) ++
        stopwordProfiles.map { case (l, _) => col(s"score_$l") }: _*)
  }

  /** Generated from `stopwordProfiles` via the shared SQL generators so
    * the oracle can never drift from the Spark-side word lists or the
    * tie-break order.
    */
  val textLangidOracle: String = {
    val scoreCols = stopwordProfiles.map(l => s"score_${l._1}").mkString(", ")
    s"""SELECT doc_id, lang, $langPredSql AS pred_lang,
       |  best AS best_score, $scoreCols
       |FROM (
       |  SELECT doc_id, lang, $langBestSql AS best, $scoreCols
       |  FROM (SELECT doc_id, lang,
       |    ${langScoreSqlExprs("t").mkString(",\n    ")}
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
       |        FROM documents) raw) s) g
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C11
  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * rolling k-gram hashes → per-window minima → distinct fingerprints.
    * The classic near-dup/plagiarism sketch; arrays stay per-row so this is
    * scan-parallel, and the fingerprint explode (for index building) is the
    * only shuffle producer.
    */
  def textFingerprint(s: SparkSession, dir: String,
                      k: Int = 8, w: Int = 4): DataFrame = {
    val df = Tables.documents(s, dir)
      .withColumn("fingerprints",
        graft.functions.Sketch.winnow_fingerprints(col("text"), k, w))
    df.select(
        col("doc_id"),
        size(col("fingerprints")).as("n_fingerprints"),
        aggregate(col("fingerprints"), lit(0L), (a, x) => a.bitwiseXOR(x))
          .as("fp_checksum"))
  }

  /** Oracle for the winnowing fingerprint — possible because
    * [[graft.functions.Sketch.winnowFingerprints]] hashes char k-grams
    * with the portable md5 scheme: gram i is `md5(substr(text, i+1, k))`,
    * window minima via list slicing (slices clamp at the end exactly like
    * the Scala window loop). The query's outputs (count + XOR) are over
    * the DISTINCT mins and both are order-insensitive, so the first-seen
    * emission order needn't be reproduced in SQL.
    */
  val textFingerprintOracle: String = {
    val k = 8
    val w = 4
    val h64 = graft.functions.PortableHash.sqlInt64("h")
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    [md5(substr(text, i + 1, $k)) for i in range(greatest(len(text) - ${k - 1}, 1))] AS hx
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, [$h64 for h in hx] AS grams FROM hs),
       |wins AS (
       |  SELECT doc_id, unnest(
       |    [list_min(grams[j + 1 : j + $w]) for j in range(greatest(len(grams) - ${w - 1}, 1))]) AS fp
       |  FROM gr)
       |SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints,
       |  bit_xor(DISTINCT fp) AS fp_checksum
       |FROM wins GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C14
  /** PII scrubbing: redact emails, phone numbers, and IPv4 addresses — the
    * standard pre-release pass over web-crawl training text. Pure per-row
    * projection (codegen'd, zero shuffles), fused since r19 into ONE
    * native expression ([[graft.functions.PiiScrub]]) whose byte scanners
    * replace the six regex passes the fold formulation paid per row (the
    * r18 decade watch item). Patterns are deliberately RE2-compatible (no
    * backrefs/lookaround) so the same strings run on Spark
    * (java.util.regex, which the scanners replicate) and DuckDB (RE2)
    * identically. Replacement order matters: emails first (their local
    * part can contain digit runs), then phones, then IPs (dots keep them
    * out of the phone pattern's character class); counts are over the
    * ORIGINAL text for all three.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+?[0-9][0-9-]{7,}[0-9]", "<PHONE>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    // ONE PiiScrub evaluation per row without relying on codegen CSE: the
    // struct lands in its own Project and the consumer Project reads four
    // of its fields — CollapseProject refuses to merge them (it would
    // duplicate a non-cheap expression), so even interpreted/fallback
    // paths run the byte scanners once (the r19 advice item: the
    // withColumn-chain formulation collapsed to 4–5 calls per row).
    // TextSpec pins the single-instance property on the optimized plan.
    val withStruct = df.select(col("*"), Text.piiScrub(col(textCol)).as("__pii"))
    val keep = df.columns.toSeq.map {
      case c if c == textCol => col("__pii.scrubbed").as(textCol)
      case c                 => col(c)
    }
    withStruct.select(keep ++ Seq(
      col("__pii.n_email").as("n_email"),
      col("__pii.n_phone").as("n_phone"),
      col("__pii.n_ip").as("n_ip")): _*)
  }

  /** The superseded six-scan regex formulation of [[piiScrub]] — kept as
    * the in-engine referee: PiiScrubSpec property-sweeps the fused
    * byte-scanner expression against it (same java.util.regex engine the
    * scanners replicate), so a scanner/pattern divergence fails a spec
    * before it can reach the DuckDB gate.
    */
  private[graft] def piiScrubRegex(df: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
    }
    piiPatterns.foldLeft(counted) { case (d, (_, pat, repl)) =>
      d.withColumn(textCol, regexp_replace(col(textCol), pat, repl))
    }
  }

  /** The synthetic corpus contains no PII, so the query plants a
    * deterministic email/phone/IP per document (same construction in the
    * oracle) — the scrub regexes are genuinely exercised on every row.
    */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val augmented = Tables.documents(s, dir)
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), col("doc_id") % 256, lit(".0.1")))
    piiScrub(augmented, "text")
      .select(col("doc_id"), col("text").as("scrubbed"),
        col("n_email"), col("n_phone"), col("n_ip"))
  }

  val textPiiScrubOracle: String = {
    val Seq((_, email, er), (_, phone, pr), (_, ip, ir)) = piiPatterns
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '$er', 'g'), '$phone', '$pr', 'g'), '$ip', '$ir', 'g') AS scrubbed,
       |  len(regexp_extract_all(aug, '$email')) AS n_email,
       |  len(regexp_extract_all(aug, '$phone')) AS n_phone,
       |  len(regexp_extract_all(aug, '$ip')) AS n_ip
       |FROM (SELECT doc_id,
       |        text || ' contact user' || doc_id || '@mail.example.com or +1-555-' ||
       |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |        ' from 10.' || (doc_id % 256) || '.0.1' AS aug
       |      FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C23
  /** Intra-document repetition (the Gopher/MassiveText quality signal):
    * fraction of word n-gram occurrences that are repeats of an earlier
    * gram in the SAME document, plus the hottest gram's count. Templated
    * and looping text scores high and gets filtered before training.
    * Shape: explode grams → (doc, gram) count → per-doc rollup; the
    * shuffle carries (doc_id, gram) pairs ∝ corpus tokens, never text,
    * and both aggregations map-side combine.
    */
  def textRepetition(s: SparkSession, dir: String, n: Int = 2): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.Sketch.word_ngrams(col("text"), n)).as("g"))
    val agg = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_gram_count"))
    // gram-less docs (< n words) still report, clean — a consumer joining
    // this signal back must not confuse "not scored" with "missing"
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_grams").isNotNull,
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("rep_ratio"),
        coalesce(col("max_gram_count"), lit(0L)).as("max_gram_count"))
  }

  val textRepetitionOracle: String =
    """SELECT d.doc_id,
      |  COALESCE(n_grams, 0) AS n_grams,
      |  COALESCE(n_distinct, 0) AS n_distinct,
      |  COALESCE(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 0.0)
      |    AS rep_ratio,
      |  COALESCE(max_gram_count, 0) AS max_gram_count
      |FROM documents d LEFT JOIN (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
      |    COUNT(*) AS n_distinct, MAX(c) AS max_gram_count
      |  FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id,
      |        unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
      |      FROM (SELECT doc_id, string_split(text, ' ') AS t
      |            FROM documents) dd
      |      WHERE len(t) >= 2) u
      |    GROUP BY doc_id, g) cc
      |  GROUP BY doc_id) r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C13
  /** Corpus bigram frequencies, top-k by count: explode token bigrams →
    * one hash-aggregate (map-side combined) → global top-k. The corpus-
    * statistics primitive behind vocabulary building and contamination
    * checks; shuffle carries (bigram, partial count), never documents.
    */
  def textNgramFreq(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(graft.functions.Sketch.word_ngrams(col("text"), 2))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  val textNgramFreqOracle: String =
    """SELECT bigram, COUNT(*) AS n FROM (
      |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents) d
      |  WHERE len(t) >= 2)
      |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  // --------------------------------------------------------------- C15
  /** Corpus TF-IDF, top-k terms per document — the classic relevance /
    * keyword-extraction primitive. Shuffle shape: one explode → tf
    * aggregation on (doc, term); the df rollup is VOCABULARY-sized, so
    * it joins back as a BROADCAST below [[TfidfBroadcastVocab]] distinct
    * terms (the common case even at corpus scale — natural-language
    * vocabulary grows ~log of corpus size), sparing the full (doc, term)
    * table its re-exchange on `term`; past the bound it falls back to
    * the shuffle join (correct at any vocabulary). The plan choice costs
    * one approx-distinct scan pass (map-side HLL, no data shuffled, no
    * caching) — 5% error at the bound only flips between two correct
    * plans. Then a per-doc top-k window; document text is never
    * shuffled, only (doc, term, counts).
    */
  def textTfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // raw load for the corpus count: no reason to pay fanOut's shuffle for
    // a row count that never leaves the driver
    val nDocs = Tables.load(s, dir, "documents").count()
    // ONE tokenize pass feeds everything downstream: tf is lazily
    // localCheckpoint'ed, so the vocab-estimate action materializes it
    // and both the df rollup and the scored join re-read the blocks.
    // The r20 before-plan paid the documents scan + explode THREE times
    // (tf subtree, df subtree, and the estimate job — guide §2.4); now
    // the text is tokenized once and only (doc_id, term, tf) rows are
    // stored. The estimate moves from raw terms onto tf's term column —
    // HLL is multiplicity-insensitive (same distinct set → identical
    // registers → identical estimate), so the broadcast-vs-shuffle gate
    // decision is unchanged by construction.
    // §5 fault-tolerance tradeoff (the Dedup.propagateLabels precedent):
    // localCheckpoint truncates lineage and stores the (doc, term)-grain
    // blocks on executor memory+disk — corpus-proportional, so an
    // executor loss mid-query fails the job instead of recomputing;
    // accepted because the blocks are far narrower than the text and
    // strictly cheaper than re-tokenizing the corpus twice.
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val vocabEst = tf
      .agg(approx_count_distinct(col("term"), 0.05)).head().getLong(0)
    val dfSide =
      if (vocabEst <= TfidfBroadcastVocab) broadcast(df) else df
    // the RANK key is tfidf rounded to 6 decimals: JVM Math.log and libm
    // ln may differ in the last ulp, and two mathematically-equal scores
    // from different (tf, df) pairs must not rank differently across
    // engines at the top-k boundary; the raw double is still emitted
    val w = Window.partitionBy("doc_id")
      .orderBy(round(col("tfidf"), 6).desc, col("term"))
    tf.join(dfSide, "term")
      .withColumn("tfidf",
        col("tf") * log(lit(nDocs.toDouble) / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "term", "tf", "df", "tfidf")
  }

  val textTfidfOracle: String =
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
      |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
      |SELECT doc_id, rnk, term, tf, df, tfidf FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, term) AS rnk
      |  FROM scored) t
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // --------------------------------------------------------------- C26
  /** Duplicated-span coverage (the second Gopher/MassiveText repetition
    * signal, complementing [[textRepetition]]): the fraction of a
    * document's TOKENS that sit inside some word n-gram occurring ≥2
    * times in that document. [[textRepetition]]'s rep_ratio counts
    * duplicate grams; this measures how much of the text they blanket —
    * a doc with one hot gram repeated at the start and end scores low
    * there but its spans are what a filter actually wants to bound.
    * Shape: posexplode grams → per-(doc, gram) count+positions (ONE
    * aggregation, positions ride as a list so no second pass) → per-doc
    * MERGED-INTERVAL length sum over the ≥2 survivors' positions. Every
    * dup position p covers the equal-length interval [p, p+n), so the
    * union's size is Σ min(n, pᵢ − pᵢ₋₁) over the sorted positions
    * (first term n) — one sorted-list aggregate plus scalar array
    * arithmetic, replacing the old explode-every-covered-index →
    * countDistinct plan whose shuffle carried n× the dup positions and
    * paid a two-phase distinct. Shuffles carry (doc_id, gram, positions)
    * ∝ corpus tokens, never text; both aggregations map-side combine.
    */
  def dupSpan(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.Sketch.word_ngrams(col("text"), n)).as(Seq("pos", "g")))
    val dupPos = grams.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"), collect_list(col("pos")).as("ps"))
      .filter(col("c") >= 2)
      .select(col("doc_id"), explode(col("ps")).as("pos"))
    // positions are unique per doc (one n-gram per index), so after the
    // sort each gap < n is exactly the overlap with the previous interval
    val cov = dupPos
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col("doc_id"),
        aggregate(
          zip_with(
            col("__ps"),
            // previous position, with a −n sentinel in front so the
            // first interval contributes its full length n
            slice(concat(array(lit(-n)), col("__ps")), lit(1),
              size(col("__ps"))),
            (cur, prev) => least(lit(n), cur - prev)),
          lit(0L), (acc, x) => acc + x.cast("long")).as("dup_tokens"))
    docs.select(col("doc_id"), size(toks(col("text"))).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("dup_tokens").cast("double") / col("n_tokens"), lit(0.0))
          .as("dup_ratio"))
  }

  /** C26 query: trigram spans over the documents table. */
  def textDupSpan(s: SparkSession, dir: String): DataFrame =
    dupSpan(Tables.documents(s, dir))

  /** n = 3 is shared between the registered query and this oracle. The
    * coverage count is base-independent (DuckDB positions are 1-based,
    * Spark's 0-based; a distinct-count of shifted indexes is identical).
    */
  val textDupSpanOracle: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(range(1, len(t) - 1)) AS pos,
      |    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |            for i in range(1, len(t) - 1)]) AS g
      |  FROM tk),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY doc_id, g) AS c
      |    FROM g) x
      |  WHERE c >= 2),
      |cov AS (SELECT DISTINCT doc_id, unnest([pos, pos + 1, pos + 2]) AS ti FROM dup),
      |agg AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
      |  COALESCE(dup_tokens, 0) AS dup_tokens,
      |  COALESCE(CAST(dup_tokens AS DOUBLE) / len(string_split(d.text, ' ')), 0.0)
      |    AS dup_ratio
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C32
  /** Per-source vocabulary diagnostics — the saturation/boilerplate
    * dashboard a corpus build watches per ingest source: vocabulary size,
    * hapax ratio (fraction of the vocabulary seen exactly once — low
    * means templated/boilerplate text, high means rich or noisy), and
    * top-k token coverage (how much of the source the k most frequent
    * tokens account for). One (source, token) count aggregation
    * (map-side-combined, shuffles counts not text), a per-source rank
    * window over the VOCABULARY (bounded by distinct tokens, not corpus
    * size — the one place a window is safe by construction), one final
    * per-source rollup.
    */
  def vocabStats(docs: DataFrame, topK: Int = 10): DataFrame = {
    val tok = docs
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("t"))
    counts
      .withColumn("rnk", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum("c").as("total_tokens"),
        sum(when(col("rnk") <= topK, col("c")).otherwise(0L)).as("__topk"))
      .select(col("source"), col("vocab_size"),
        (col("__hapax").cast("double") / col("vocab_size")).as("hapax_ratio"),
        col("total_tokens"),
        (col("__topk").cast("double") / col("total_tokens")).as("topk_coverage"))
      .orderBy("source")
  }

  /** C32 query: top-10 coverage over the documents table. */
  def textVocabStats(s: SparkSession, dir: String): DataFrame =
    vocabStats(Tables.documents(s, dir))

  val textVocabStatsOracle: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |counts AS (
      |  SELECT source, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, c,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, t) AS rnk
      |  FROM counts)
      |SELECT source, COUNT(*) AS vocab_size,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS hapax_ratio,
      |  CAST(SUM(c) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
      |    AS topk_coverage
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C34
  /** N-gram novelty under ingestion order — for each document, the
    * fraction of its distinct word n-grams NOT already present in any
    * lower-id document. The keep-first complement to the symmetric
    * cross-doc signals: when shards are ingested in id order this says
    * how much genuinely new text each document contributes (novelty ~0 =
    * pure rehash of the standing corpus — the incremental-dedup drop
    * candidate). Shape: NO per-pair tagging at all — a gram's first-seen
    * doc is unique, so `seen_grams(doc) = n_grams(doc) − #{g :
    * min(doc_id) = doc}`, and both terms are map-side-combined
    * aggregates: per-doc distinct-gram counts, and per-doc counts over
    * the per-gram minima. The original form joined the pair table back
    * to the per-gram minima to tag each (doc, gram) row — a second
    * pair-sized exchange plus a join that concentrates every row of a
    * boilerplate gram in one task (a window formulation has the same hot
    * spot, and AQE splits skewed joins but not windows). This form
    * shuffles the pair table once (the distinct), everything after is
    * combine-collapsed to doc- or gram-vocabulary-sized, and no operator
    * co-locates a hot gram's rows (measured at the replica decade rung:
    * 5.4 s → ~2-3.6 s). Shuffles carry grams and ids, never text.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"),
        explode(graft.functions.Sketch.word_ngrams(col("text"), n)).as("g"))
      .distinct()
    val nGrams = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g").agg(min("doc_id").as("first_seen"))
      .groupBy("first_seen").agg(count(lit(1)).as("__novel"))
      .withColumnRenamed("first_seen", "doc_id")
    docs.select("doc_id")
      .join(nGrams, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (coalesce(col("n_grams"), lit(0L)) -
          coalesce(col("__novel"), lit(0L))).as("seen_grams"))
      .withColumn("novelty",
        when(col("n_grams") === 0, lit(1.0))
          .otherwise(lit(1.0) - col("seen_grams").cast("double") / col("n_grams")))
  }

  /** C34 query: trigram novelty over the documents table. */
  def textNgramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(s, dir))

  val textNgramNoveltyOracle: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |      unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |              for i in range(1, len(t) - 1)]) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d) u),
      |first AS (SELECT g, MIN(doc_id) AS first_seen FROM g GROUP BY g),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |      AS seen_grams
      |  FROM g JOIN first USING (g) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_grams, 0) AS n_grams,
      |  COALESCE(seen_grams, 0) AS seen_grams,
      |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 1.0
      |       ELSE 1.0 - CAST(seen_grams AS DOUBLE) / n_grams END AS novelty
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- C39
  /** Scale-true global top-k tokens — the heavy-hitters shape for corpora
    * whose VOCABULARY doesn't fit a full count shuffle (web n-grams,
    * URLs): per-partition Misra–Gries summaries (fixed `width` counters,
    * one pass), then ONE exact broadcast-filtered recount of the
    * surviving candidates only. A Misra–Gries summary of width w over a
    * partition of n tokens keeps every token counted more than n/(w+1)
    * times there, and pigeonhole lifts that to the union of
    * per-partition survivors: it contains every token with global count
    * > N/(width+1) (below-threshold-everywhere implies below globally),
    * so the final top-k is EXACT whenever the kth count exceeds
    * N/(width+1) — size width to the tail you care about. Shuffle ∝ candidates
    * (≤ partitions·width), never ∝ vocabulary; the candidate table stays
    * distributed (tiny distinct → broadcast join), no driver collect.
    *
    * The deterministic contrast to [[textNgramFreq]]: same answer, but
    * the full-vocabulary groupBy is replaced by a bounded-memory sketch
    * pass + a candidates-only recount.
    */
  def textTopkSketch(s: SparkSession, dir: String, k: Int = 20,
                     width: Int = 64): DataFrame = {
    import s.implicits._
    val tokens = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("tok"))
    val survivors = tokens.as[String]
      .mapPartitions(misraGries(_, width)).toDF("tok").distinct()
    tokens.join(broadcast(survivors), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)
  }

  /** One partition's Misra–Gries survivors: at most `width` tokens,
    * including every token seen more than n/(width+1) times in the n
    * tokens of `it`.
    */
  private[graft] def misraGries(it: Iterator[String],
                                width: Int): Iterator[String] = {
    val h = new java.util.HashMap[String, java.lang.Long]()
    it.foreach { t =>
      val c = h.get(t)
      if (c != null) h.put(t, c + 1L)
      else if (h.size < width) h.put(t, 1L)
      else { // decrement-all step: drop every counter by one
        val e = h.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    h.keySet().iterator().asScala
  }

  /** The oracle is the EXACT top-k — the sketch path must reproduce it
    * bit-for-bit (candidate superset + exact recount), or the width was
    * sized below the tail and the mismatch SHOULD fail the gate.
    */
  val textTopkSketchOracle: String =
    """SELECT tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_topk_sketch" -> ((s: SparkSession, d: String) => textTopkSketch(s, d)),
    "text_quality"     -> ((s: SparkSession, d: String) => textQuality(s, d)),
    "text_tokens"      -> ((s: SparkSession, d: String) => textTokens(s, d)),
    "text_langid"      -> ((s: SparkSession, d: String) => textLangid(s, d)),
    "text_fingerprint" -> ((s: SparkSession, d: String) => textFingerprint(s, d)),
    "text_pii_scrub"   -> ((s: SparkSession, d: String) => textPiiScrub(s, d)),
    "text_tfidf"       -> ((s: SparkSession, d: String) => textTfidf(s, d)),
    "text_ngram_freq"  -> ((s: SparkSession, d: String) => textNgramFreq(s, d)),
    "text_repetition"  -> ((s: SparkSession, d: String) => textRepetition(s, d)),
    "text_dup_span"    -> ((s: SparkSession, d: String) => textDupSpan(s, d)),
    "text_vocab_stats" -> ((s: SparkSession, d: String) => textVocabStats(s, d)),
    "text_ngram_novelty" -> ((s: SparkSession, d: String) => textNgramNovelty(s, d)))

  val oracles: Map[String, String] = Map(
    "text_topk_sketch" -> textTopkSketchOracle,
    "text_quality"    -> textQualityOracle,
    "text_fingerprint" -> textFingerprintOracle,
    "text_tokens"     -> textTokensOracle,
    "text_langid"     -> textLangidOracle,
    "text_pii_scrub"  -> textPiiScrubOracle,
    "text_tfidf"      -> textTfidfOracle,
    "text_ngram_freq" -> textNgramFreqOracle,
    "text_repetition" -> textRepetitionOracle,
    "text_dup_span"   -> textDupSpanOracle,
    "text_vocab_stats" -> textVocabStatsOracle,
    "text_ngram_novelty" -> textNgramNoveltyOracle)
}
