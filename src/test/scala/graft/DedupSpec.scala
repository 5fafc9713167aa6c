package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** A crafted corpus: 0/1 exact dups, 2 a near-dup of 0 (one word
    * changed), 3/4 unrelated.
    */
  lazy val corpusDir: String = {
    val dir = Files.createTempDirectory("graft_docs").toString
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 37) "CHANGED" else s"word$i").mkString(" ")
    Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base, "en", "srcA", base.length.toLong),
      (2L, near, "en", "srcA", near.length.toLong),
      (3L, "completely different text about other things entirely unrelated",
        "en", "srcB", 62L),
      (4L, "apples bananas cherries dates elderberries figs grapes honeydew",
        "en", "srcB", 63L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_exact: identical texts collapse to lowest doc_id") {
    val kept = Dedup.dedupExact(spark, corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L)) // doc 1 deduped into 0
  }

  test("dedup_minhash: exact and near dups share a cluster; unrelated don't") {
    val clusters = Dedup.dedupMinhash(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(0L) == clusters(1L)) // exact dup: all bands collide
    assert(clusters(2L) == clusters(0L)) // 1-word-in-40 near dup: some band collides
    assert(clusters(3L) != clusters(0L))
    assert(clusters(4L) != clusters(0L))
    assert(clusters(4L) != clusters(3L))
  }

  test("dedup_incremental: delta flags exact/near vs corpus, fresh stays clean") {
    import graft.functions.PortableHash
    // ~800-word docs: a 1-word edit flips ~1 simhash bit, so a Manku
    // block survives (a 40-word doc would flip ~7 and never match)
    val base = (1 to 800).map(i => s"w$i").mkString(" ")
    val near = (1 to 800).map(i => if (i == 400) "CHANGED" else s"w$i").mkString(" ")
    val corpus = Seq((10L, base), (11L, "some standing corpus document"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (20L, base),                                  // exact copy
      (21L, near),                                  // near-dup
      (22L, (1 to 50).map(i => s"fresh$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(corpus, delta)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(out(20L) == (true, true, true))  // exact copy is also hamming-0
    assert(out(21L) == (false, true, true))
    assert(out(22L) == (false, false, false))
  }

  test("dedup_minhash: mutation chain collapses to one transitive cluster") {
    val dir = Files.createTempDirectory("graft_chain").toString
    val base = (1 to 40).map(i => s"tok$i").toArray
    // doc i mutates word (i*7) of doc i-1 — adjacent pairs are near-dups
    val docs = (0 to 4).map { i =>
      val words = base.clone()
      (1 to i).foreach(j => words(j * 7) = s"MUT$j")
      (i.toLong, words.mkString(" "), "en", "s", 200L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = Dedup.dedupMinhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet.size == 1, s"clusters=$clusters")
    assert(clusters(0L) == 0L) // smallest doc_id wins as the label
  }

  test("dedup_simhash: identical docs get identical fingerprints, near dups close") {
    val sim = Dedup.dedupSimhash(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(0L) == sim(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sim(0L), sim(2L)) < hamming(sim(0L), sim(3L)))
  }

  test("dedup_simhash_nn: near dups pair up, unrelated docs don't flag") {
    // simhash needs document-scale token counts: with n tokens the bit
    // margins are ~√n, so a 1-word edit flips ~P(|margin|≤2)·64 bits —
    // at 40 words that's ~7 flips (no block survives), at 800 it's ~1
    val dir = Files.createTempDirectory("graft_simnn").toString
    val base = (1 to 800).map(i => s"word$i").mkString(" ")
    val near = (1 to 800).map(i => if (i == 400) "CHANGED" else s"word$i").mkString(" ")
    Seq(
      (0L, base, "en", "s", 1L),
      (1L, base, "en", "s", 1L),
      (2L, near, "en", "s", 1L),
      (3L, "completely different text about other things entirely unrelated",
        "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nn = Dedup.dedupSimhashNn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getInt(2), r.getBoolean(3)))))
      .toMap
    assert(nn.size == 4)                       // every doc emits a row
    assert(nn(0L).contains((1L, 0, true)))     // exact dup: hamming 0
    assert(nn(1L).contains((0L, 0, true)))
    // the near-dup's best candidate is one of the identical pair, flagged
    nn(2L) match {
      case Some((id, ham, dup)) =>
        assert(Set(0L, 1L)(id) && dup, s"near dup got ($id, $ham, $dup)")
      case None => fail("near dup found no block-sharing candidate")
    }
    // the unrelated doc must never be flagged
    nn(3L).foreach { case (_, _, dup) => assert(!dup, "doc 3 flagged") }
  }

  test("dedup_simhash_nn: hot-block guard bounds a skewed corpus") {
    // 2000 identical short docs — every block value identical, so without
    // the bucket cap one join key generates 2000² candidate pairs. With
    // maxBucket below the bucket size, the hot block is pruned: the
    // templated docs emit null-NN rows, the candidate set stays bounded,
    // and a genuine near-dup pair elsewhere in the corpus is still found.
    val dir = Files.createTempDirectory("graft_simskew").toString
    val template = "identical short boilerplate row"
    val base = (1 to 800).map(i => s"tok$i").mkString(" ")
    val near = (1 to 800).map(i => if (i == 400) "EDITED" else s"tok$i").mkString(" ")
    val hot = (0 until 2000).map(i => (i.toLong, template, "en", "s", 1L))
    val pair = Seq((9000L, base, "en", "s", 1L), (9001L, near, "en", "s", 1L))
    (hot ++ pair).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nn = Dedup.simhashNn(
        spark.read.parquet(s"$dir/documents.parquet"), maxBucket = 100)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getBoolean(3)))))
      .toMap
    assert(nn.size == 2002)                  // every doc still emits a row
    assert(nn(0L).isEmpty && nn(1999L).isEmpty,
      "hot-bucket docs must be pruned, not joined quadratically")
    assert(nn(9000L).exists { case (id, dup) => id == 9001L && dup })
    assert(nn(9001L).exists { case (id, dup) => id == 9000L && dup })
  }

  test("dedup_simhash_nn: the wide 5-block pair-combo scheme (count-sized " +
    "banding past 100k docs) finds the same hamming<=3 near dups the " +
    "narrow scheme guarantees") {
    // same corpus as the narrow test; wideThreshold=0 forces the wide
    // scheme so its pigeonhole guarantee (≤3 flips ⇒ some block PAIR
    // agrees) is exercised at test scale
    val dir = Files.createTempDirectory("graft_simnn_wide").toString
    val base = (1 to 800).map(i => s"word$i").mkString(" ")
    val near = (1 to 800).map(i => if (i == 400) "CHANGED" else s"word$i").mkString(" ")
    Seq(
      (0L, base, "en", "s", 1L),
      (1L, base, "en", "s", 1L),
      (2L, near, "en", "s", 1L),
      (3L, "completely different text about other things entirely unrelated",
        "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nn = Dedup.simhashNn(
        spark.read.parquet(s"$dir/documents.parquet"), wideThreshold = 0L)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getInt(2), r.getBoolean(3)))))
      .toMap
    assert(nn.size == 4)
    assert(nn(0L).contains((1L, 0, true)))   // identical pair: all combos agree
    assert(nn(1L).contains((0L, 0, true)))
    nn(2L) match {
      case Some((id, ham, dup)) =>
        assert(Set(0L, 1L)(id) && dup, s"near dup got ($id, $ham, $dup)")
      case None => fail("near dup found no combo-sharing candidate")
    }
    nn(3L).foreach { case (_, _, dup) => assert(!dup, "doc 3 flagged") }
  }

  test("near-dup gate: narrow and wide bandings flag the identical id " +
    "set on a pruning-free corpus — the GateWideThreshold switch can " +
    "never change verdicts, only cost") {
    // both schemes find EVERY hamming<=3 pair (pigeonhole) and differ
    // only where hot-bucket pruning bites, so on a corpus with no hot
    // buckets the keep-first gate must return byte-identical id sets
    // under forced-narrow and forced-wide, through the explicit
    // `wideThreshold` parameter (the production thresholds are constants,
    // so this is where the wide gate's verdicts are checked every build)
    val dir = Files.createTempDirectory("graft_gate_parity").toString
    val base = (1 to 800).map(i => s"word$i").mkString(" ")
    val near = (1 to 800).map(i => if (i == 400) "CHANGED" else s"word$i").mkString(" ")
    val distinctDocs = (0 until 20).map { k =>
      (10L + k, (1 to 60).map(i => s"tok${k}_$i").mkString(" "), "en", "s", 1L)
    }
    (Seq(
      (0L, base, "en", "s", 1L),
      (1L, base, "en", "s", 1L),   // exact copy: hamming 0, must flag
      (2L, near, "en", "s", 1L))   // near dup of 0/1: flags under both
      ++ distinctDocs)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def ids(thr: Long): Set[Long] =
      Dedup.simhashNearDupIds(docs, wideThreshold = thr)
        .as[Long].collect().toSet
    val narrow = ids(Long.MaxValue)
    val wide = ids(0L)
    assert(narrow == wide, s"schemes disagree: narrow=$narrow wide=$wide")
    assert(narrow.contains(1L), "exact copy (hamming 0) must flag")
    assert(narrow.contains(2L), "one-word edit must flag")
    assert(!narrow.contains(0L), "keep-first: the earliest doc survives")
    assert(distinctDocs.forall { case (id, _, _, _, _) => !narrow.contains(id) },
      "unrelated docs must never flag")
  }

  test("hamming kernel: first-agreement dedup emits each pair once, and " +
    "its documented hot-bucket edge holds — a pair whose FIRST agreeing " +
    "block is hot is dropped, one with a cold first agreement survives") {
    import spark.implicits._
    // crafted fingerprints (narrow scheme, blocks = 16-bit quarters):
    //  A(1) and B(2): agree on block 0 (=7) and block 2 (=9) — hamming
    //    comes only from blocks 1 and 3
    //  2000 hot docs share A's block-0 value 7 but nothing else
    def sig(b0: Long, b1: Long, b2: Long, b3: Long): Long =
      b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    val hot = (100L until 2100L).map(i => (i, sig(7L, i, i + 3, i + 7)))
    val sigs = (Seq(
      (1L, sig(7L, 11L, 9L, 21L)),
      (2L, sig(7L, 12L, 9L, 22L))) ++ hot).toDF("doc_id", "simhash")
    // cap above the hot-bucket size: the pair is found exactly ONCE
    // (via block 0, its first agreement), so the best-report is intact
    val cand = Dedup.hammingCandidates(sigs, maxBucket = 5000)
      .filter(col("doc_id") === 1L && col("nn_id") === 2L).collect()
    assert(cand.length == 1,
      s"pair must be emitted exactly once, got ${cand.length}")
    // cap below the hot-bucket size: block 0 is pruned, and because
    // block 0 is ALSO the pair's first agreement, the block-2 join row
    // is dropped by the first-agreement filter — the documented
    // recall-under-cap tradeoff (r16 scaladoc, hammingCandidates)
    val pruned = Dedup.hammingCandidates(sigs, maxBucket = 100)
      .filter(col("doc_id") === 1L && col("nn_id") === 2L).collect()
    assert(pruned.isEmpty,
      "a pair whose first agreeing block is hot is dropped (documented)")
    // a pair whose FIRST agreement is cold is untouched by the hot prune:
    // C/D agree on block 1 only, nothing shares their block values
    val cold = (sigs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ++
      Seq((50L, sig(1L, 33L, 2L, 3L)), (51L, sig(4L, 33L, 5L, 6L))))
      .toDF("doc_id", "simhash")
    val found = Dedup.hammingCandidates(cold, maxBucket = 100)
      .filter(col("doc_id") === 50L && col("nn_id") === 51L).collect()
    assert(found.length == 1, "cold-first-agreement pair must survive")
  }

  test("dedup_ngram_jaccard: near-dup pair found with high jaccard") {
    val pairs = Dedup.dedupNgramJaccard(spark, corpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical
    assert(pairs((0L, 2L)) > 0.8)  // 3 of ~38 shingles differ
    assert(!pairs.contains((0L, 3L)))
  }

  test("dedup_ngram_jaccard: owns its posting-list release — nothing " +
    "stays registered in the CacheManager after materialization") {
    spark.catalog.clearCache() // start clean (shared session)
    Dedup.dedupNgramJaccard(spark, corpusDir)
      .write.format("noop").mode("overwrite").save()
    // the shared posting list rides a lazy localCheckpoint (ContextCleaner
    // reclaims the blocks once the reference is GC'd), NOT a persist() a
    // library caller would have to clearCache() away
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupNgramJaccard left a pinned InMemoryRelation behind")
  }

  test("dedup_span_cross: shared spans detected, isolated docs score zero, " +
    "coverage bounded, no pinned cache") {
    spark.catalog.clearCache()
    // docs 1/2 share a long copied span (> w+k-1 chars) inside distinct
    // text; docs 3/4 are fingerprint-disjoint (disjoint alphabets)
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"alpha bravo $span charlie delta"),
      (2L, s"echo foxtrot $span golf hotel"),
      (3L, "iiii jjjj kkkk llll mmmm nnnn oooo pppp qqqq rrrr ssss"),
      (4L, "uuuu vvvv wwww xxxx yyyy zzzz 1111 2222 3333 4444 5555"))
      .toDF("doc_id", "text")
    val out = Dedup.crossDocSpans(docs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 4)
    // every doc: 0 <= shared <= total, ratio consistent
    out.values.foreach { case (_, n, sh, r) =>
      assert(n > 0 && sh >= 0 && sh <= n)
      assert(math.abs(r - sh.toDouble / n) < 1e-12)
    }
    // the copied span is found from BOTH sides...
    assert(out(1L)._3 > 0 && out(2L)._3 > 0,
      "copied span must register as shared fingerprints")
    // ...but neither doc is fully duplicated (unique flanks stay unshared)
    assert(out(1L)._4 < 1.0 && out(2L)._4 < 1.0)
    // fingerprint-disjoint docs share nothing
    assert(out(3L)._3 == 0 && out(4L)._3 == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "crossDocSpans left a pinned InMemoryRelation behind")
  }

  test("dedup_embedding_cc: transitive chain merges into one cluster; " +
    "non-neighbors stay singletons") {
    // Chain v0–v1–v2 rotated by 18° steps in a random 2-plane: adjacent
    // cosine ≈ 0.951 (≥ 0.95), endpoints ≈ 0.809 (< 0.95) — the cluster
    // must close transitively. Bucketed LSH only sees same-bucket pairs,
    // so deterministically scan seeds until all three land in one bucket
    // (real recall behavior; the operator's contract is per-bucket).
    val dim = 64
    val theta = math.toRadians(18)
    def chainOf(seed: Int): Seq[Array[Float]] = {
      val rnd = new scala.util.Random(seed)
      def unit(): Array[Double] = {
        val v = Array.fill(dim)(rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      val d1 = unit()
      val raw = unit()
      val proj = raw.zip(d1).map { case (r, a) => r * a }.sum
      val o: Array[Double] = raw.zip(d1).map { case (r, a) => r - proj * a }
      val n2 = math.sqrt(o.map(x => x * x).sum)
      val d2 = o.map(_ / n2)
      (0 to 2).map { k =>
        val (c, s) = (math.cos(k * theta), math.sin(k * theta))
        d1.zip(d2).map { case (a, b) => (c * a + s * b).toFloat }
      }
    }
    def bucketsOf(vs: Seq[Array[Float]]): Seq[Long] =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
        .select(graft.ann.Ann.hyperplaneBucket(col("embedding"), 4))
        .as[Long].collect().toSeq
    val chain = (0 until 200).iterator.map(chainOf)
      .find(vs => bucketsOf(vs).distinct.size == 1)
      .getOrElse(fail("no seed put the 18° chain in one bucket"))
    // verify the crafted geometry really straddles the threshold
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos(chain(0), chain(1)) >= 0.95 && cos(chain(1), chain(2)) >= 0.95)
    assert(cos(chain(0), chain(2)) < 0.95, "endpoints must NOT be pairwise dups")
    // two far-away singletons (axis vectors orthogonal to nothing shared)
    val axis1 = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val axis2 = Array.tabulate(dim)(i => if (i == 1) 1f else 0f)
    val emb = (Seq(40L, 41L, 42L).zip(chain) ++ Seq(90L -> axis1, 91L -> axis2))
      .toDF("vec_id", "embedding")
    val clusters = Dedup.dedupEmbeddingClusters(emb)
      .as[(Long, Long)].collect().toMap
    assert(clusters(40L) == 40L && clusters(41L) == 40L && clusters(42L) == 40L,
      s"chain must merge transitively: $clusters")
    assert(clusters(90L) == 90L && clusters(91L) == 91L)
  }

  test("dedup_embedding_cc_exact: identical copies collapse, clusters equal the naive form") {
    val dim = 64
    def vec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 5 exact copies of v(1) (the replica-heavy shape), 3 of v(2), and
    // 4 distinct singleton vectors
    val emb = ((10L to 14L).map(_ -> vec(1)) ++ (20L to 22L).map(_ -> vec(2)) ++
      (30L to 33L).map(i => i -> vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val naive = Dedup.dedupEmbeddingClusters(emb)
      .as[(Long, Long)].collect().toMap
    val exact = Dedup.dedupEmbeddingClustersExact(emb)
      .as[(Long, Long)].collect().toMap
    assert(exact == naive, "exact-collapse must not change converged clusters")
    assert((10L to 14L).forall(exact(_) == 10L), "copies share the min-id cluster")
    assert((20L to 22L).forall(exact(_) == 20L))
    assert((30L to 33L).forall(i => exact(i) == i), "distinct vectors stay singletons")
  }

  test("propagateLabels: a diameter-8 chain merges to ONE cluster (cap >> 3)") {
    // path graph 0-1-2-...-8 as pair hyper-edges: min-label needs ~8
    // rounds to carry label 0 to node 8 — the old ccIterations=3 split
    // this into several clusters
    val edges = (0L until 8L).flatMap(i =>
        Seq((i, s"e$i"), (i + 1, s"e$i")))
      .toDF("doc_id", "bkey")
    val labels = Dedup.propagateLabels(edges, Dedup.CcIterations)
      .as[(Long, Long)].collect().toMap
    assert((0L to 8L).forall(labels(_) == 0L),
      s"deep chain must converge to one cluster: $labels")
  }

  test("dedup_embedding_cc: hot-bucket cap bounds pair work; exact copies still collapse") {
    val dim = 64
    val rnd = new scala.util.Random(7)
    val base = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 20 tiny perturbations of one direction: same bucket, pairwise
    // cosine ≈ 1 — with maxBucket=8 the bucket is pruned, so all stay
    // singletons (bounded work, documented recall cost) …
    def perturb(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = base.map(x => x + 1e-4f * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val distinct = (0L until 20L).map(i => i -> perturb(i.toInt + 1))
    val buckets = distinct.toDF("vec_id", "embedding")
      .select(graft.ann.Ann.hyperplaneBucket(col("embedding"), 4))
      .as[Long].collect()
    assume(buckets.distinct.length == 1, "perturbations must share a bucket")
    // … while exact replicas of id 3 ride the collapse regardless of cap
    val emb = (distinct ++ Seq(100L -> perturb(4), 101L -> perturb(4)))
      .toDF("vec_id", "embedding")
    val out = Dedup.dedupEmbeddingClusters(emb, maxBucket = 8)
      .as[(Long, Long)].collect().toMap
    assert((0L until 20L).forall(out(_) < 20L),
      "pruned-bucket members stay unmerged by LSH")
    assert(out(100L) == 3L && out(101L) == 3L,
      s"exact copies must collapse to their representative: $out")
    assert(out(3L) == 3L)
  }

  test("lshBitsFor scales with corpus size and truncation matches full-width buckets") {
    assert(Dedup.lshBitsFor(500) == 4)
    assert(Dedup.lshBitsFor(128L << 4) == 4)
    assert(Dedup.lshBitsFor((128L << 4) + 1) == 5)
    assert(Dedup.lshBitsFor(128L << 11) == 11)
    assert(Dedup.lshBitsFor(Long.MaxValue / 2) == 12)
    // prefix-stability: bucket at b bits == low b bits of the 12-bit
    // bucket (what the oracle's `& (2^bits - 1)` truncation relies on)
    val vs = (0 until 50).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val rows = vs.select(
        graft.ann.Ann.hyperplaneBucket(col("embedding"), 4).as("b4"),
        graft.ann.Ann.hyperplaneBucket(col("embedding"), 7).as("b7"),
        graft.ann.Ann.hyperplaneBucket(col("embedding"), 12).as("b12"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (b4, b7, b12) =>
      assert(b4 == (b12 & 15L) && b7 == (b12 & 127L))
    }
  }

  test("dedup_embedding: top-1 neighbor is symmetric-sane and flags dups") {
    val out = Dedup.dedupEmbedding(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1))) // never self
    val cos = rows.map(_.getDouble(2))
    assert(cos.forall(c => c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
  }

  test("dedup_semantic: keep-first within cells; below-threshold and " +
    "lone-in-cell vectors survive") {
    // two orthogonal cells; v1 a near-copy of v0 (cos ≈ 1), v2 same cell
    // but cos(v0,v2) = 0.9 < 0.93, v3 alone in cell 1
    def n(v: Array[Float]): Array[Float] = {
      val s = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / s)
    }
    val centroids: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    val emb = Seq(
      (0L, n(Array(1f, 0f, 0f, 0f))),
      (1L, n(Array(1f, 0.01f, 0f, 0f))),
      (2L, n(Array(0.9f, 0f, (math.sqrt(1 - 0.81) max 0).toFloat, 0f))),
      (3L, n(Array(0f, 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, centroids)
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    assert(rows(0L) == (0L, false)) // no lower id in cell → kept
    assert(rows(1L)._2)             // near-copy of 0 → semantic dup
    assert(rows(2L) == (0L, false)) // cos 0.9 below threshold → kept
    assert(rows(3L) == (1L, false)) // alone in its cell → kept
    // the best-lower-neighbor of 1 must be 0 with cos ≈ 1
    val r1 = out.filter(col("vec_id") === 1L).collect()(0)
    assert(r1.getLong(2) == 0L && r1.getDouble(3) > 0.99)
  }

  test("dedup_semantic_cc: transitive chain in one cell merges; " +
    "cross-cell neighbors never do") {
    def n(v: Array[Float]): Array[Float] = {
      val s = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / s)
    }
    val centroids: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    // chain in cell 0: v0~v1 (cos≈1) and v1~v2 (cos≈1) but cos(v0,v2)
    // slightly lower — closure must still merge all three; v3/v4 are an
    // identical pair in cell 1 (own cluster); v5 alone in cell 0
    val emb = Seq(
      (0L, n(Array(1f, 0f, 0f, 0f))),
      (1L, n(Array(1f, 0.02f, 0.02f, 0f))),
      (2L, n(Array(1f, 0.04f, 0.04f, 0f))),
      (3L, n(Array(0f, 1f, 0f, 0f))),
      (4L, n(Array(0f, 1f, 0f, 0f))),
      (5L, n(Array(0.8f, 0f, -0.6f, 0f))))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupClusters(emb, centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L) // chain merged
    assert(got(3L) == 3L && got(4L) == 3L)                  // pair, min id
    assert(got(5L) == 5L)                                   // singleton
  }

  test("dedup_semantic: plan has no windows — assignment is a projection, " +
    "keep-first is an aggregate") {
    val plan = Dedup.dedupSemanticQuery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "semantic dedup must not window: argmax cell via array_max, " +
        "best-neighbor via struct-max aggregate")
  }

  test("cellsFor: min clamp at test SFs, doubles with the corpus, max clamp") {
    import graft.ann.Ann
    assert(Ann.cellsFor(500) == 16)   // historical 16-cell behavior kept
    assert(Ann.cellsFor(2048) == 16)  // boundary: 128·16
    assert(Ann.cellsFor(2049) == 32)
    assert(Ann.cellsFor(5000) == 64)  // the 10×-replica decade
    assert(Ann.cellsFor(1000000) == 256)  // max clamp
    // power-of-two growth, monotone
    val seq = Seq(100L, 3000L, 9000L, 40000L, 100000L).map(Ann.cellsFor(_))
    assert(seq == seq.sorted && seq.forall(c => (c & (c - 1)) == 0))
  }

  test("dedup_semantic(+cc): hot cell over the cap generates no pairs but " +
    "keeps every row; cool cells still pair") {
    def n(v: Array[Float]): Array[Float] = {
      val s = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / s)
    }
    val centroids: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    // 12 near-identical vectors crowd cell 0 (over the cap of 8);
    // cell 1 holds a cool identical pair that must still be found
    val hot = (0L until 12L).map(i =>
      (i, n(Array(1f, 0.001f * i, 0f, 0f))))
    val cool = Seq((100L, n(Array(0f, 1f, 0f, 0f))),
                   (101L, n(Array(0f, 1f, 0f, 0f))))
    val emb = (hot ++ cool).toDF("vec_id", "embedding")

    val sem = Dedup.semanticDedup(emb, centroids, maxCell = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(sem.size == 14, "capped cell's members must still be emitted")
    assert(hot.forall { case (id, _) => !sem(id) },
      "hot cell must contribute no pairs (cap prunes before pairing)")
    assert(sem(101L) && !sem(100L), "cool cell still pairs keep-first")

    val cc = Dedup.semanticDedupClusters(emb, centroids, maxCell = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cc.size == 14)
    assert(hot.forall { case (id, _) => cc(id) == id },
      "capped cell members stay singleton clusters")
    assert(cc(100L) == 100L && cc(101L) == 100L)
  }

  test("dedup_semantic_cc: non-unit-norm copies follow the oracle's pair " +
    "semantics — no silent unit-norm assumption in the exact-collapse") {
    val centroids: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    // cell 1: byte-identical SHORT copies (norm² = 0.49 < threshold 0.93)
    // with no neighbor — the uncollapsed pairing rejects the copy pair
    // (dot(v,v) < threshold), so both stay singletons; a unit-norm-assuming
    // collapse would wrongly merge them into one cluster.
    // cell 0: short copies (norm² = 0.8836 < 0.93) whose dot with the unit
    // vector 4 is 0.94 ≥ 0.93 — every copy shares the rep's external edge,
    // so all three ride one component even though the copy self-pair fails.
    val emb = Seq(
      (0L, Array(0f, 0.7f, 0f, 0f)),
      (1L, Array(0f, 0.7f, 0f, 0f)),
      (2L, Array(0.94f, 0f, 0f, 0f)),
      (3L, Array(0.94f, 0f, 0f, 0f)),
      (4L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cc = Dedup.semanticDedupClusters(emb, centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cc(0L) == 0L && cc(1L) == 1L,
      "edge-less short copies must stay singletons (self-pair fails)")
    assert(cc(2L) == 2L && cc(3L) == 2L && cc(4L) == 2L,
      "copies with a passing external edge ride the rep's component")
  }

  test("dedup_semantic: sized cells hold a recall floor vs brute force at " +
    "the replica decade") {
    // the AnnSpec decade shape: 5 near-replicas per vector (σ=0.03 jitter,
    // renormalized — cosine ≈ 0.97 to the base, above SemThreshold), big
    // enough (2500 > 128·16) that cellsFor actually sizes past the
    // historical 16 — this test fails if the sizing regresses to a fixed
    // nCells AND if the cell partition starts losing true neighbors.
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val stride = src.map(_._1).max + 1
    val big = for { r <- 0 until 5; (id, v) <- src } yield {
      if (r == 0) (id, v)
      else {
        val rnd = new scala.util.Random(id * 31 + r)
        val p = v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
        val nn = math.sqrt(p.map(x => x.toDouble * x).sum)
        (id + r * stride, p.map(x => (x / nn).toFloat))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_sf1eq_sem").toString
    big.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    import graft.ann.Ann
    assert(Ann.cellsFor(big.size) == 32, "decade corpus must size past 16 cells")
    val flagged = Dedup.dedupSemanticQuery(spark, dir)
      .filter(col("is_semdup")).select("vec_id").as[Long].collect().toSet

    // brute-force truth: any lower-id neighbor with cosine ≥ threshold
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val truth = a.join(b, col("idb") < col("ida"))
      .filter(graft.ann.Ann.dot(col("va"), col("vb")) >= Dedup.SemThreshold)
      .select(col("ida")).distinct().as[Long].collect().toSet

    assert(truth.nonEmpty, "decade corpus must contain true semantic dups")
    val recall = (truth & flagged).size.toDouble / truth.size
    info(s"semantic decade recall=$recall (truth=${truth.size}, flagged=${flagged.size})")
    // flagged ⊆ truth: celled search can only miss pairs, never invent them
    assert((flagged -- truth).isEmpty, "celled pairs must be a subset of brute force")
    assert(recall >= 0.85, s"semantic recall $recall below floor at the decade")
  }
}
