package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.TextFuncs

class TextSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpusDir: String = {
    val dir = Files.createTempDirectory("graft_text").toString
    Seq(
      (0L, "the cat is in the hat", "en", "s", 21L),
      (1L, "der Hund ist in der Kiste und das Haus", "de", "s", 38L),
      (2L, "le chat est dans la boite et les maisons", "fr", "s", 40L),
      (3L, "xyzzy plugh", "und", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("langid: stopword profiles pick the right language") {
    val pred = TextFuncs.textLangid(spark, corpusDir)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(pred(0L) == "en")
    assert(pred(1L) == "de")
    assert(pred(2L) == "fr")
    assert(pred(3L) == "und") // nothing hits
  }

  test("quality: hand-checked ratios on a known doc") {
    val r = TextFuncs.textQuality(spark, corpusDir)
      .filter(col("doc_id") === 0).first()
    assert(r.getAs[Int]("n_chars") == 21)
    assert(r.getAs[Int]("n_words") == 6)
    // 'the' ×2 + 'is' + 'in' = 4 stopword hits of 6 words
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 4.0 / 6) < 1e-12)
    assert(r.getAs[Double]("punct_ratio") == 0.0)
  }

  test("tokens: whitespace count exact, bpe estimate bounded sanely") {
    val r = TextFuncs.textTokens(spark, corpusDir)
      .filter(col("doc_id") === 0).first()
    assert(r.getAs[Int]("n_ws_tokens") == 6)
    // "the cat is in the hat": 6 chunks of ≤4 letters
    assert(r.getAs[Int]("n_bpe_est") == 6)
  }

  test("curate pipeline: each gate fires with the right precedence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val good = (("the quick brown fox jumps over a lazy dog and " * 4) +
      "it is done").trim                       // 43 words, stopwordy, en
    // 61 words with exactly one profile stopword: pred_lang=en (score 1)
    // but best-score ratio 1/61 ≈ 0.016 < 0.02 → fails the quality gate,
    // not the lang one
    val noStop = "the " + (1 to 60).map(i => s"w$i").mkString(" ")
    Seq(
      (0L, good, "en", "s", 1L),
      (1L, good, "en", "s", 1L),               // exact dup of 0 → "dup"
      (2L, "the a of to and in is it", "en", "s", 1L), // 8 words → "short"
      (3L, good, "fr", "s", 1L),               // dup of 0 (dup outranks lang)
      (4L, noStop, "en", "s", 1L),             // stopword-starved → low_quality
      (5L, good + " voila", "fr", "s", 1L),    // en-looking text labeled fr
      // correctly-labeled German, 33 words, stopwordy IN GERMAN — must be
      // kept (the quality gate scores the predicted language's profile,
      // not English)
      (6L, ("der hund und die katze ist ein tier zu den zeiten " * 3).trim,
        "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.pipeline.Curate.pipelineCurate(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getBoolean(4))).toMap
    assert(out(0L) == (("kept", true)))
    assert(out(1L) == (("dup", false)))        // dup outranks everything
    assert(out(2L) == (("short", false)))
    assert(out(3L) == (("dup", false)))        // dup fires before lang gate
    assert(out(4L) == (("low_quality", false)))
    assert(out(5L) == (("lang_mismatch", false)))
    assert(out(6L) == (("kept", true)))        // non-English content survives
  }

  test("corpus quality report: per-source volumes, gate counts, exact LM mean") {
    import graft.functions.UnigramLm
    val dir = java.nio.file.Files.createTempDirectory("graft_cqr").toString
    val good = (("the quick brown fox jumps over a lazy dog and " * 4) +
      "it is done").trim // 43 words → kept
    Seq(
      (0L, good, "en", "srcA", 1L),
      (1L, good, "en", "srcA", 1L),          // dup in srcA
      (2L, "the a of to and in is it", "en", "srcB", 1L)) // short in srcB
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.pipeline.Curate.corpusQualityReport(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = rows("srcA")
    assert(a.getLong(1) == 2 && a.getLong(2) == 86)         // docs, tokens
    assert(a.getLong(3) == 1 && a.getLong(4) == 1)          // kept, dup
    val b = rows("srcB")
    assert(b.getLong(1) == 1 && b.getLong(5) == 1)          // docs, short
    // LM mean replays exactly from the literal vocab
    val vocab = UnigramLm.DefaultVocab.toMap
    def lp(text: String) = text.split(" ", -1)
      .map(t => vocab.getOrElse(t, UnigramLm.OovLogpMicro)).sum
    val wantA = (lp(good) * 2).toDouble / (86 * 1e6)
    assert(math.abs(a.getDouble(8) - wantA) < 1e-12)
  }

  test("curate near-dup gate: exact dup beats near_dup, keep-first wins") {
    val dir = Files.createTempDirectory("graft_curnd").toString
    // 800-word docs: a 1-word edit flips ~1 simhash bit (margins ~√n),
    // so the near-dup is reliably within the hamming-3 gate
    val base = (1 to 800).map(i => s"the of and to in is it was w$i").take(800)
      .mkString(" ")
    val near = base.replace("w400", "EDITED")
    Seq(
      (0L, base, "en", "s", 1L),   // survives everything
      (1L, base, "en", "s", 1L),   // exact copy → dup (not near_dup)
      (2L, near, "en", "s", 1L))   // 1-word edit → near_dup
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.pipeline.Curate
      .pipelineCurateNearDup(spark, dir)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(out(0L) == "kept", s"doc 0: ${out(0L)}")
    assert(out(1L) == "dup")       // exact gate takes precedence
    assert(out(2L) == "near_dup")  // keep-first: earlier doc 0 survives
  }

  test("contam check: benchmark copy flags, disjoint doc stays clean") {
    val dir = Files.createTempDirectory("graft_contam").toString
    val benchText = (1 to 30).map(i => s"eval$i").mkString(" ")
    Seq(
      (0L, benchText, "en", "s", 1L),            // benchmark slice (id%10==0)
      (11L, benchText, "en", "s", 1L),           // verbatim benchmark copy
      (12L, (1 to 30).map(i => s"fresh$i").mkString(" "), "en", "s", 1L),
      (13L, "too short", "en", "s", 1L))          // < n tokens: no grams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.pipeline.Curate.contamCheck(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(11L, 12L, 13L))     // benchmark rows excluded
    assert(out(11L)._4 && out(11L)._3 == 1.0)    // full-overlap copy flagged
    assert(!out(12L)._4 && out(12L)._2 == 0L)    // disjoint text clean
    assert(out(13L) == (0L, 0L, 0.0, false))     // gram-less doc reports clean
  }

  test("contam check core API: external benchmark DataFrame, any threshold") {
    import spark.implicits._
    val half = ((1 to 15).map(i => s"eval$i") ++
      (1 to 15).map(i => s"mine$i")).mkString(" ")
    val corpus = Seq(
      (1L, (1 to 30).map(i => s"eval$i").mkString(" ")),   // full overlap
      (2L, half),                                          // ~half overlap
      (3L, (1 to 30).map(i => s"own$i").mkString(" ")))    // none
      .toDF("doc_id", "text")
    val bench = Seq(
      Tuple1((1 to 30).map(i => s"eval$i").mkString(" ")),
      Tuple1("an unrelated eval prompt about something else"))
      .toDF("text")
    val out = graft.pipeline.Curate.contamCheck(corpus, bench, 3, 0.6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out(1L) == (1.0, true))
    assert(out(2L)._1 > 0.0 && out(2L)._1 < 0.6 && !out(2L)._2)
    assert(out(3L) == (0.0, false))
  }

  test("repetition: looped text scores high, varied text scores zero") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rep").toString
    Seq(
      (1L, "spam ham spam ham spam ham spam ham", "en", "s", 1L), // loops
      (2L, "one two three four five six seven eight", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.functions.TextFuncs.textRepetition(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    // doc 1: 7 bigrams, only 2 distinct ("spam ham" ×4, "ham spam" ×3)
    assert(out(1L) == (7L, 2L, 5.0 / 7.0, 4L))
    // doc 2: all 7 bigrams unique
    assert(out(2L) == (7L, 7L, 0.0, 1L))
  }

  test("quality budget: best docs fill the budget, one over-the-line drop each") {
    import spark.implicits._
    // quality = stopword ratio; 4 docs of 10 tokens, budget 25 → the two
    // best fit, the third crosses the line, the worst is out
    def doc(id: Long, stops: Int) =
      (id, (Seq.fill(stops)("the") ++ Seq.fill(10 - stops)(s"w$id")).mkString(" "), "s")
    val docs = Seq(doc(1, 2), doc(2, 8), doc(3, 5), doc(4, 0))
      .toDF("doc_id", "text", "source")
      .withColumn("__c", graft.functions.Text.tokenProfileCounts(
        col("text"), Seq(graft.functions.TextFuncs.stopwordsEn)))
    val out = graft.pipeline.Curate.qualityBudget(docs,
        quality = col("__c").getItem(1).cast("double") / col("__c").getItem(0),
        tokens = col("__c").getItem(0), budget = 25L, group = col("source"))
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false))
  }

  test("dupSpan: covered-token union over repeated trigrams, gram-less docs report 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c d"), // "a b c" at 0 and 3 → covers tokens 0-5 of 7
      (2L, "all words here differ totally"),
      (3L, "x x x x"),       // "x x x" at 0,1 → covers all 4 tokens
      (4L, "p q"))           // shorter than a trigram → no grams at all
      .toDF("doc_id", "text")
    val out = graft.functions.TextFuncs.dupSpan(docs)
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 7, 6L, 6.0 / 7)))
    assert(out(2L) == ((2L, 5, 0L, 0.0)))
    assert(out(3L) == ((3L, 4, 4L, 1.0)))
    assert(out(4L) == ((4L, 2, 0L, 0.0)))
  }

  test("pii scrub: redacts emails/phones/ips, counts match, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org thanks"),
      (2L, "call +1-800-555-0199 or 020-7946-0958 now"),
      (3L, "server at 192.168.001.1 responded"),
      (4L, "no sensitive content here at all"))
      .toDF("doc_id", "text")
    val out = graft.functions.TextFuncs.piiScrub(df, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == (("reach me at <EMAIL> thanks", 1, 0, 0)))
    assert(out(2L) == (("call <PHONE> or <PHONE> now", 0, 2, 0)))
    assert(out(3L) == (("server at <IP> responded", 0, 0, 1)))
    assert(out(4L) == (("no sensitive content here at all", 0, 0, 0)))
  }

  test("lm score: matches an independent fold; junk scores below corpus prose") {
    import graft.functions.UnigramLm
    val dir = Files.createTempDirectory("graft_lm").toString
    val docs = Seq(
      (0L, "join hash row the a", "en", "s", 20L),
      (1L, "zzz qqq wwraith gibberish", "en", "s", 24L),
      (2L, "join join join", "en", "s", 14L),
      (3L, "", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = UnigramLm.textLmScore(spark, dir)
      .as[(Long, Int, Double)].collect()
      .map { case (id, n, sc) => id -> ((n, sc)) }.toMap
    // independent per-doc reference straight from the literal table
    val vocab = UnigramLm.DefaultVocab.toMap
    docs.foreach { case (id, text, _, _, _) =>
      val toks = text.split(" ", -1)
      val want = toks.map(t => vocab.getOrElse(t, UnigramLm.OovLogpMicro))
        .sum.toDouble / (toks.length * 1e6)
      val (n, sc) = got(id)
      assert(n == toks.length, s"doc $id token count")
      assert(math.abs(sc - want) < 1e-12, s"doc $id: got $sc want $want")
    }
    // junk (all-OOV) must score far below in-vocabulary prose
    assert(got(1L)._2 < got(0L)._2 - 1.0,
      s"OOV junk ${got(1L)._2} must sit below corpus prose ${got(0L)._2}")
    // scoring stays inside whole-stage codegen (native expression)
    val df = UnigramLm.textLmScore(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && !plan.contains("ScalaUDF"))
  }

  test("char-class + bpe-est native counts equal their regex references") {
    import graft.functions.Text
    val tricky = Seq(
      "", " ", "abc", "ABCDEFGHIJK lmnop 12345 !!  ??",
      "tabs\tand\nnewlines\rform\ffeed",
      "unicode é ü 漢字 𝔘𝔫𝔦 mix3d CASE",
      "aaaaaaaaaaaaaaaaaaaaa", "a!b@c#d$e%f^g&h*i(j)k",
      "....", "    leading and trailing   ")
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        Text.charClassCounts(col("text")).as("cc"),
        Text.bpeEstCount(col("text")).as("bpe"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).as("punct_re"),
        length(regexp_replace(col("text"), "[^A-Z]", "")).as("upper_re"),
        regexp_count(col("text"),
          lit("[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\\s]")).as("bpe_re"))
    df.collect().foreach { r =>
      val cc = r.getSeq[Int](1)
      assert(cc(0) == r.getInt(3), s"punct for '${tricky(r.getLong(0).toInt)}'")
      assert(cc(1) == r.getInt(4), s"upper for '${tricky(r.getLong(0).toInt)}'")
      assert(r.getInt(2) == r.getInt(5), s"bpe for '${tricky(r.getLong(0).toInt)}'")
    }
  }

  test("topk sketch: exact top-k with a tight width, hot token never lost") {
    import graft.functions.TextFuncs
    val dir = Files.createTempDirectory("graft_topk").toString
    // one hot token (40%), 4 warm, a 200-token cold tail; the hot/warm
    // counts clear N/width for width=8, the tail must be pruned away
    val docs = (0 until 50).map { i =>
      val toks = Seq.fill(8)("hot") ++
        Seq("w1", "w2", "w3", "w4").flatMap(Seq.fill(2)(_)) ++
        Seq(s"cold${i * 4}", s"cold${i * 4 + 1}", s"cold${i * 4 + 2}", s"cold${i * 4 + 3}")
      (i.toLong, toks.mkString(" "), "en", "s", 10L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(7) // scatter the hot token across partitions
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextFuncs.textTopkSketch(spark, dir, k = 5, width = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.head == ("hot" -> 400L))
    assert(got.map(_._1).toSet == Set("hot", "w1", "w2", "w3", "w4"))
    assert(got.tail.forall(_._2 == 100L))
  }

  test("topk sketch: a partition whose vocabulary exceeds width keeps at " +
    "most width survivors, every token above n/(width+1) among them") {
    import graft.functions.TextFuncs
    // per partition: "hot" on every 4th token (n/4 > n/9), the rest all
    // distinct — a vocabulary far larger than the 8 counters
    val toks = (0 until 3000).map(i => if (i % 4 == 0) "hot" else s"cold$i")
    val perPartition = toks.toDS().repartition(3)
      .mapPartitions { it =>
        val kept = TextFuncs.misraGries(it, 8).toSeq
        Iterator((kept.size, kept.contains("hot")))
      }.collect()
    assert(perPartition.length == 3)
    perPartition.foreach { case (n, hot) =>
      assert(n <= 8, s"$n survivors in one partition")
      assert(hot, "a token above n/(width+1) was dropped")
    }
  }

  test("ccnet buckets: per-language thirds by LM score, head above tail") {
    import graft.functions.UnigramLm
    val dir = Files.createTempDirectory("graft_ccnet").toString
    // 6 'en' docs with strictly decreasing junk content → strictly
    // increasing scores; 1 lone 'xx' doc (its own language third)
    val en = (0 until 6).map { i =>
      val toks = Seq.fill(6 - i)("zzz") ++ Seq.fill(i)("join")
      (i.toLong, toks.mkString(" "), "en", "s", 20L)
    }
    val docs = en :+ ((9L, "join hash", "xx", "s", 9L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = UnigramLm.corpusCcnetBuckets(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    // ascending score order is doc_id order by construction: 0,1 tail /
    // 2,3 middle / 4,5 head (discrete thirds over 6 distinct scores)
    assert(got(0L)._2 == "tail" && got(1L)._2 == "tail")
    assert(got(2L)._2 == "middle" && got(3L)._2 == "middle")
    assert(got(4L)._2 == "head" && got(5L)._2 == "head")
    // a single-doc language: its one score covers every third → tail
    assert(got(9L) == (("xx", "tail")))
  }

  test("piiScrub: exactly ONE PiiScrub instance survives the optimizer") {
    // the r19 withColumn-chain formulation collapsed to 4–5 PiiScrub calls
    // per row after CollapseProject (single evaluation relied on codegen
    // CSE); the two-Project form must keep the barrier — CollapseProject
    // refuses to duplicate a non-cheap expression — so interpreted and
    // fallback paths also scan each row's bytes once
    val df = TextFuncs.textPiiScrub(spark, sf)
    val instances = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e: graft.functions.PiiScrub => e })
    }.flatten
    assert(instances.size == 1,
      s"expected 1 PiiScrub in the optimized plan, found ${instances.size}:\n" +
        df.queryExecution.optimizedPlan.treeString)
    // and the restructured projection still produces the same columns
    assert(df.columns.toSeq ==
      Seq("doc_id", "scrubbed", "n_email", "n_phone", "n_ip"))
  }

  test("fingerprint: deterministic, identical docs identical checksums") {
    val fp1 = TextFuncs.textFingerprint(spark, corpusDir).collect()
    val fp2 = TextFuncs.textFingerprint(spark, corpusDir).collect()
    assert(fp1.map(_.toString).toSeq == fp2.map(_.toString).toSeq)
    assert(fp1.forall(_.getAs[Int]("n_fingerprints") > 0))
    // winnowing: fingerprints ≤ windows ≤ chars
    fp1.foreach(r => assert(r.getAs[Int]("n_fingerprints") <= 40))
  }
}
