package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2 C1–C5 — the dedup family for training-data curation.
  *
  * Scale shape (the whole point): every sketch (md5 / minhash signature /
  * simhash / winnowed shingles) is computed per-row inside the scan stage
  * (codegen'd built-ins, no UDFs), so the only shuffles are groupBys on
  * sketch keys. LSH banding turns the O(n²) candidate problem into
  * groupBy(band_key): shuffle volume ∝ data, pairs generated only inside
  * buckets. That is the formulation that survives 100 TB.
  */
object Dedup {

  // --------------------------------------------------------------- common
  /** Exploded (doc_id, shingle-hash) postings for word 3-shingles, via the
    * native `ShingleHashes` expression (graft.functions.Sketch): one
    * compiled pass per document, no per-element interpreted lambdas, no
    * shingle strings materialized. Per-row and shuffle-free — the explode
    * feeds straight into whatever aggregation follows.
    */
  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.Sketch.shingle_hashes(col("text"), 3)).as("h"))

  // --------------------------------------------------------------- C1
  /** Exact dedup: content-hash groupBy, keep lowest doc_id. One shuffle on
    * the 128-bit hash; at 100 TB this is the cheapest possible dedup and
    * the hash shuffle is uniformly distributed by construction.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    Tables.documents(s, dir)
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("doc_id", "content_hash", "n_chars")
  }

  val dedupExactOracle: String =
    """SELECT doc_id, content_hash, n_chars FROM (
      |  SELECT doc_id, md5(text) AS content_hash, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Iteration cap for min-label propagation. The kernel exits as soon as
    * a round changes nothing, so on converged graphs (every real corpus —
    * near-dup cluster diameter is tiny) the cap is never reached and
    * raising it is free; it exists only to bound pathological chains.
    * Oracles unroll exactly this many rounds ("exactly N" ≡ "≤N with
    * early exit" — converged fixpoints are idempotent), so a duplicate
    * chain with graph diameter > N under-merges identically in BOTH
    * engines; DedupSpec plants a diameter-8 chain to prove merges far
    * beyond the old cap of 3.
    */
  val CcIterations = 20

  // --------------------------------------------------------------- C2
  /** MinHash + LSH: k=64 permutations, 16 bands × 4 rows, then label
    * propagation over the band-bucket graph to a fixpoint — cluster
    * ids are transitive (A~B, B~C ⇒ one cluster), which single-hop
    * bucket-min is not. Each iteration is two key shuffles over the
    * (doc, band) edges; diameter of near-dup clusters is tiny in practice,
    * so propagation exits after 2-3 rounds; [[CcIterations]] only bounds
    * pathological chains (at 100 TB: same loop — the convergence check IS
    * a count of changed labels, and each round checkpoints to cut
    * lineage).
    */
  /** Hyper-edge min-label propagation — the connected-components kernel
    * shared by the minhash and embedding clusterers. `edges` is
    * (doc_id, bkey), already pruned to multi-member buckets and
    * `localCheckpoint`ed by the caller (who also releases it).
    *
    * Callers with bucket-shaped edges pre-contract them to star edges
    * (member → bucket-min root; see [[dedupMinhash]]) so the table
    * iterated HERE is label-sized, not data-sized — this kernel itself
    * stays the plain bucket-min loop: at the local rungs every extra
    * fixed-overhead job (an adaptive branch, a per-round pointer-jump
    * join) measured as a net LOSS on the small-SF wall, while contraction
    * at the producing window is free (measured r16: in-kernel contraction
    * + per-round jumping cut the replica decade rung 8.6 → 5.5 s but
    * pushed sf0.1 from 2.6 → 4.3 s; producer-side contraction keeps both).
    *
    * Each round is eagerly checkpointed — measured faster than evictable
    * `persist` (checkpoint scan beats InMemoryRelation's columnar
    * round-trip, and each round plans against a flat LogicalRDD instead
    * of re-optimizing the chain) — with every superseded round RELEASED
    * via `GraftColumnBridge.releaseCheckpoint`; the previous label rides
    * the aggregation so the fixpoint exit is a filter over the
    * materialized checkpoint, not an extra join job. Returns the final
    * (small) label table, checkpointed; only it stays pinned.
    */
  private[graft] def propagateLabels(edges: DataFrame, ccIterations: Int): DataFrame = {
    var labels = edges.select("doc_id").distinct()
      .withColumn("label", col("doc_id"))
    var prev: Option[DataFrame] = None
    var converged = false
    var i = 0
    while (i < ccIterations && !converged) {
      val bucketMin = edges.join(labels, "doc_id")
        .groupBy("bkey").agg(min("label").as("bmin"))
      val next = edges.join(bucketMin, Seq("bkey"))
        .groupBy("doc_id").agg(min("bmin").as("label"))
        .join(labels.withColumnRenamed("label", "__old"), "doc_id")
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("__old")).isEmpty
      prev.foreach(org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint)
      prev = Some(next)
      labels = next.select("doc_id", "label")
      i += 1
    }
    // cut lineage at the (small) final label table, then release the
    // data-sized intermediates — without this the last round's checkpoint
    // pins executor storage for the rest of the session
    val finalLabels = labels.localCheckpoint(true)
    prev.foreach(org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint)
    finalLabels
  }

  /** DuckDB mirror of [[propagateLabels]]: `rounds` min-label rounds over
    * an `edges`(doc_id, bkey) CTE, unrolled. A converged fixpoint is
    * idempotent, so "exactly `rounds`" ≡ "≤ `rounds` with early exit"
    * whenever the graph converges within the cap — the same diameter
    * > `rounds` blind spot the Spark side has, by construction. The
    * caller's `edges` CTE must be declared `AS MATERIALIZED` (it is
    * referenced 2×`rounds` times; inlining would recompute the whole
    * upstream pipeline per reference), and every round CTE here is
    * MATERIALIZED too — inlined, the rounds nest into one ~2·rounds-deep
    * join tree whose join-order planning is exponential in depth
    * (measured: 10 inlined rounds plan in 11 s, 20 never finish; 20
    * materialized rounds run in 0.09 s). Ends with CTE `l<rounds>`.
    */
  private[dedup] def propagationUnrollSql(rounds: Int): String = {
    val sb = new StringBuilder(
      "l0 AS (SELECT DISTINCT doc_id, doc_id AS label FROM edges)")
    (1 to rounds).foreach { i =>
      sb.append(s",\nb$i AS MATERIALIZED (SELECT bkey, MIN(label) AS bmin FROM edges JOIN l${i - 1} USING (doc_id) GROUP BY bkey)")
      sb.append(s",\nl$i AS MATERIALIZED (SELECT doc_id, MIN(bmin) AS label FROM edges JOIN b$i USING (bkey) GROUP BY doc_id)")
    }
    sb.toString
  }

  def dedupMinhash(s: SparkSession, dir: String,
                   k: Int = 64, bands: Int = 16,
                   ccIterations: Int = CcIterations): DataFrame = {
    val rows = k / bands
    // Portable signature in ONE scan-stage pass: the native Md5MinhashSig
    // expression tokenizes, slides word 3-shingles (whole text below 3
    // tokens), digests each shingle once (md5 — the hash both engines
    // share, so the whole pipeline signatures → banding → label
    // propagation is reproduced exactly by the DuckDB oracle), and folds
    // the k Kirsch–Mitzenmacher values into running minima per row. No
    // shingle explode, no signature aggregation, no shuffle before
    // banding — at corpus scale the signature step costs exactly one
    // compiled pass over the text bytes.
    val sig = Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.PortableHash.md5_minhash_sig(col("text"), 3, k).as("sig"))
    // Band key md5("<band>,<s_0>,…,<s_r-1>"): decimal renderings
    // concatenated, then compressed through the one digest both engines
    // share — still no engine-local hash in the grouping key (the oracle
    // computes the identical md5), but the banded table shuffles fixed
    // 32-byte hex keys instead of ~90-byte signature strings (and the
    // downstream window/joins group on a fixed-width key). k/rows rows
    // per doc.
    val banded = sig.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        md5(concat_ws(",",
          (lit(b) +: (0 until rows).map(r => col("sig").getItem(b * rows + r)))
            .map(_.cast("string")): _*).cast("binary"))
      }: _*)).as("bkey"))
    // Prune to non-singleton buckets before propagating: a bucket with one
    // doc generates no edge, and in a real corpus the overwhelming majority
    // of docs sit only in singleton buckets. Propagation then runs over the
    // near-dup subset (tiny), not all n docs — the difference between a
    // fixed small iterative job and one whose cost scales with the corpus.
    // The bucket-size count is a window over the banding shuffle (ONE pass,
    // no second aggregate + join back) — and the SAME window carries the
    // bucket-min doc_id, contracting each bucket to star edges
    // (member → bucket-min root) before anything is materialized. Two docs
    // share a bucket iff they share its root, so connected components (and
    // the oracle's fixpoint over the RAW hyper-edges) are unchanged, but a
    // doc's k band rows dedup to its distinct roots: on the replica-heavy
    // decade rung 728k (doc, bkey) rows → ~56k (doc, root) rows, so every
    // propagation round shuffles a label-sized table, not a data-sized one
    // (measured: big-rung wall 8.6 → ~6 s, small rung unchanged — the
    // contraction rides the existing window shuffle and the distinct folds
    // into the one checkpoint materialization).
    val wBucket = Window.partitionBy("bkey")
    val edges = banded
      .withColumn("__n", count(lit(1)).over(wBucket))
      .withColumn("__root", min("doc_id").over(wBucket))
      .filter(col("__n") >= 2)
      .select(col("doc_id"), col("__root").as("bkey"))
      .distinct()
      .localCheckpoint(true)
    val finalLabels = propagateLabels(edges, ccIterations)
    org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(edges)
    // singleton docs (pruned away above) are their own cluster; the doc
    // inventory re-reads just the id column from the table scan — cheaper
    // than keeping the full banded relation alive for it
    Tables.documents(s, dir).select("doc_id")
      .join(finalLabels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  // --------------------------------------------------------------- C3
  /** (doc_id, simhash) for a document DataFrame — shared by the
    * fingerprint query (C3) and the hamming-NN search (C3b).
    *
    * 64-bit SimHash in ONE compiled pass per row (native Md5Simhash:
    * tokenize, per-token first-64-md5-bits hash, per-bit ±1 sums,
    * positive sums set bits) — no token explode, no 64-sum aggregate, no
    * shuffle. Token hash = md5 because that is the one hash BOTH engines
    * (Spark and the DuckDB oracle) compute identically, keeping the whole
    * simhash pipeline exactly oracle-checkable — xxhash64 exists only in
    * Spark.
    */
  private[dedup] def simhashTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.PortableHash.md5_simhash(col("text")).as("simhash"))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashTable(Tables.documents(s, dir))
      .select(col("doc_id"), col("simhash"),
        shiftrightunsigned(col("simhash"), 48).as("bucket"))

  // --------------------------------------------------------------- C3b
  /** SimHash hamming nearest neighbor, Manku/Jain/Das Sarma (WWW'07)
    * blocking: split the 64-bit fingerprint into 4 × 16-bit blocks — two
    * fingerprints within hamming distance 3 must agree on at least one
    * whole block (pigeonhole), so candidate pairs come from equi-joins on
    * (block_id, block_value), never an all-pairs scan. Shuffle is 4 rows
    * of 16 bytes per doc; candidates ∝ Σ bucket² over 2¹⁶-value blocks.
    * Every doc emits a row: its best candidate (min hamming, then lowest
    * id) or nulls when no block collides.
    */
  /** Hot-block cap shared by [[simhashNn]] and its oracle SQL. */
  private[dedup] val SimhashMaxBucket = 1000

  // Hot-block guard (applies to every hammingCandidates consumer): a
  // degenerate block value shared by many docs (classically the all-zeros
  // block from short/templated text) turns one join key into Σ bucket²
  // candidates — the op's skew point at web scale. Buckets larger than
  // `maxBucket` are dropped BEFORE the join (aggregate + broadcast
  // anti-join since r16), which bounds any key's contribution at
  // maxBucket². Recall tradeoff, deliberate — and since r16's
  // first-agreement dedup it is slightly wider: a pair whose
  // lexicographically-FIRST agreeing block sits in a pruned hot bucket is
  // dropped even when a later agreeing block is cold (pinned in
  // DedupSpec). A pair with NO hot agreeing block is always found, and a
  // doc whose every block is hot is template boilerplate, not a near-dup
  // signal. See hammingCandidates for the checkpoint story (the
  // 16-byte/doc signature table is what materializes).

  /** Corpus size past which the Manku banding widens from 4 single
    * 16-bit blocks to C(5,2)=10 block-PAIR keys (~2²⁶-value keyspace).
    * Single 16-bit blocks put n docs in 2¹⁶ buckets — expected occupancy
    * grows ∝ n, candidate pairs ∝ n²/2¹⁶, super-linear past ~10⁵ docs
    * (the r15 BENCH_SCALE3 4.2× decade flag). Pair keys push random
    * collisions to n²/2²⁶ per combo (flat into the tens of millions of
    * docs) at 10 key rows/doc instead of 4 — linear shuffle bought once,
    * quadratic join retired. This is [[lshBitsFor]]'s count-sized-width
    * trick applied to hamming blocks. BOTH schemes find every pair
    * within hamming ≤ 3 exactly (pigeonhole: ≤3 flipped bits hit ≤3
    * blocks, so ≥1-of-4 whole blocks / ≥2-of-5 blocks — hence some pair
    * — agree); candidates at larger hamming differ, so the best-neighbor
    * answer for docs with NO true near-dup is scheme-dependent and the
    * oracles CASE on the same count to pick the same scheme.
    *
    * The value is MEASURED, not guessed (r17 sweep, graft.harness.
    * SimhashSweep, source in commit `ac52568`: near-dup-replica corpora
    * of 5k/20k/50k/100k/200k docs, min of 2 runs, narrow vs wide):
    *   5k  0.98 vs 0.84 s · 20k 1.29 vs 0.93 · 50k 2.68 vs 1.38
    *   100k 3.48 vs 2.80 · 200k 8.73 vs 3.95
    * — wide wins from ~5k docs up and the gap is the narrow scheme's
    * n²/2¹⁶ collision growth, so the r16 value of 100k left a 2× decade
    * penalty on the table. 4000 keeps the cheaper-constant narrow path
    * for genuinely tiny corpora (and the sf0.01 oracle gate exercising
    * it) while everything bench-sized runs wide.
    */
  private[graft] val HammingWideThreshold: Long = 4000L

  /** Wide-scheme block layout: 5 blocks of (offset, width) covering the
    * 64 fingerprint bits (4×13 + 1×12). */
  private[graft] val WideBlocks: Seq[(Int, Int)] =
    Seq((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))

  /** Wide join keys are block PAIRS: hamming ≤ 3 flips hit ≤ 3 of the 5
    * blocks, so ≥ 2 agree and some pair agrees fully (pigeonhole). 10
    * combos × ~26-bit keys: random collisions ∝ n²/2²⁶ per combo — flat
    * where single 16-bit blocks go quadratic. Index = the join `block`.
    */
  private[graft] val WideCombos: Seq[Seq[Int]] =
    (for (i <- 0 until 5; j <- i + 1 until 5) yield Seq(i, j)).toSeq

  /** Packing width per combo field (≥ the widest block). */
  private val PackBits = 13

  private def wideBlockVal(simhash: Column, b: Int): Column = {
    val (off, width) = WideBlocks(b)
    shiftrightunsigned(simhash, off).bitwiseAND(lit((1L << width) - 1))
  }

  /** Blocks to the LEFT of / between a combo's members — the positions
    * the first-agreement dedup must check disagree. */
  private def comboGaps(bs: Seq[Int]): Seq[Int] =
    (0 until bs.head) ++
      bs.sliding(2).collect { case Seq(a, b) => (a + 1) until b }
        .flatten.toSeq

  /** The (block, bv) join-key entries one fingerprint emits under the
    * scheme picked for `corpusCount` — combo values pack into one long
    * (13-bit fields), so the downstream prune/join code is scheme-blind.
    */
  private def blockEntries(simhash: Column, wide: Boolean): Column =
    if (!wide)
      array((0 until 4).map { b =>
        struct(lit(b).as("block"),
          shiftrightunsigned(simhash, b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("bv"))
      }: _*)
    else
      array(WideCombos.zipWithIndex.map { case (bs, c) =>
        struct(lit(c).as("block"),
          bs.map(wideBlockVal(simhash, _))
            .reduce((acc, v) => acc * lit(1L << PackBits) + v).as("bv"))
      }: _*)

  /** The Manku-block candidate kernel over ANY (doc_id, simhash) table —
    * shared by text simhash NN and the multimodal perceptual-hash dedup
    * (graft.multimodal.Multimodal.mmImageDedup). See the scaladoc above
    * for the hot-block guard + checkpoint rationale. `corpusCount` (the
    * ids-side row count, cheap — no text/codec work) picks the banding
    * scheme; 0 (the legacy callers) keeps the narrow one.
    */
  private[graft] def hammingCandidates(sigs: DataFrame, maxBucket: Int,
                                       corpusCount: Long = 0L,
                                       wideThreshold: Long = HammingWideThreshold): DataFrame = {
    val wide = corpusCount > wideThreshold
    // Checkpoint the SIGNATURES (16 bytes/doc), not the exploded block
    // table (4–10 rows/doc): the expensive scan-stage fingerprint
    // computation runs once, block keys re-derive by cheap arithmetic
    // per consumer. The hot-bucket prune is a (block, bv) count
    // aggregate whose over-cap keys broadcast into an anti join — the
    // map-side prune idiom of [[pruneHotBuckets]]; the old count-over-
    // window shuffled AND sorted the full block table before the join.
    val sigsCk = sigs.localCheckpoint(false)
    val blocks = sigsCk
      .select(col("doc_id"), col("simhash"),
        explode(blockEntries(col("simhash"), wide)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.block"), col("bk.bv"))
    val hotKeys = broadcast(blocks.groupBy("block", "bv")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .select("block", "bv"))
    val kept = blocks.join(hotKeys, Seq("block", "bv"), "left_anti")
    // Emit each candidate pair ONCE — in its lexicographically-first
    // agreeing block (narrow) / block-pair combo (wide) — instead of
    // once per agreement. Near-dup pairs agree on most blocks (hamming
    // 1 ⇒ 3-of-4 blocks / 6-of-10 pair combos), so without this the
    // replica-heavy corpus pays 3–6× the candidate volume in downstream
    // hash-agg probes for identical (doc_id, nn_id, hamming) rows the
    // min() would absorb anyway. Pure bitwise post-filter on the joined
    // row — no extra shuffle. One semantic edge vs emit-per-agreement,
    // mirrored by the oracles ([[hammingNnSqlTail]]): when a pair's
    // FIRST agreeing block sits in a pruned hot bucket, the pair is now
    // dropped rather than resurfacing through a later agreeing block —
    // the same documented recall-under-cap tradeoff class as the hot
    // prune itself (a non-hot near-dup pair is always found).
    def nAgree(b: Int): Column =
      shiftrightunsigned(col("sh_a"), b * 16).bitwiseAND(lit(0xFFFFL)) ===
        shiftrightunsigned(col("sh_b"), b * 16).bitwiseAND(lit(0xFFFFL))
    def wAgree(b: Int): Column =
      wideBlockVal(col("sh_a"), b) === wideBlockVal(col("sh_b"), b)
    val firstAgreement: Column =
      if (!wide)
        (1 until 4).foldLeft(when(col("block") === 0, lit(true))) {
          (acc, b) => acc.when(col("block") === b,
            (0 until b).map(p => !nAgree(p)).reduce(_ && _))
        }.otherwise(lit(false))
      else
        WideCombos.zipWithIndex.foldLeft(lit(false)) {
          case (acc, (bs, c)) =>
            val cond = comboGaps(bs).map(b => !wAgree(b))
              .reduceOption(_ && _).getOrElse(lit(true))
            when(col("block") === c, cond).otherwise(acc)
        }
    kept.select(col("doc_id"), col("simhash").as("sh_a"),
        col("block"), col("bv"))
      .join(kept.select(col("doc_id").as("nn_id"),
        col("simhash").as("sh_b"), col("block"), col("bv")),
        Seq("block", "bv"))
      .filter(col("doc_id") =!= col("nn_id") && firstAgreement)
      .select(col("doc_id"), col("nn_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  def simhashNn(docs: DataFrame, maxHamming: Int = 3,
                maxBucket: Int = SimhashMaxBucket,
                wideThreshold: Long = HammingWideThreshold): DataFrame = {
    // scheme choice needs the corpus SIZE only — an id-column count, no
    // text hashing (the signature table materializes once, later)
    val n = docs.select("doc_id").count()
    hammingNnReport(docs.select("doc_id"),
      hammingCandidates(simhashTable(docs), maxBucket, n, wideThreshold),
      maxHamming)
  }

  /** Best-neighbor report over a hamming candidate table: per id, the
    * minimum-distance neighbor (ties → lower id) and the ≤maxHamming dup
    * flag; ids without candidates survive with null neighbor.
    *
    * The argmin is a struct-MIN AGGREGATE, not a row_number window: the
    * candidate table is the op's volume peak (duplicate-heavy corpora
    * multiply pairs), and an aggregate partial-combines it map-side —
    * each task shrinks its candidates to one row per doc_id before the
    * shuffle, where a window would sort the full pair volume through one
    * exchange. (Since r16's first-agreement dedup each pair arrives
    * exactly once, but min() still absorbs any duplicate harmlessly.)
    */
  private[graft] def hammingNnReport(ids: DataFrame, cand: DataFrame,
                                     maxHamming: Int): DataFrame = {
    val best = cand.groupBy("doc_id")
      .agg(min(struct(col("hamming"), col("nn_id"))).as("m"))
      .select(col("doc_id"), col("m.nn_id").as("nn_id"),
        col("m.hamming").as("hamming"))
    ids.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nn_id"), col("hamming"),
        (col("hamming") <= maxHamming).as("is_dup"))
  }

  /** The near-dup GATE's own narrow→wide cutover — deliberately NOT
    * [[HammingWideThreshold]] (4000): the two hammingCandidates
    * consumers have opposite downstream shapes, so their crossovers
    * differ by orders of magnitude, and each is MEASURED
    * (the SimhashSweep nn and gate sweeps, source in commit `ac52568`;
    * min of 3 runs, near-dup-replica corpora):
    *
    *   docs    nn narrow/wide     gate narrow/wide
    *   5k      0.98 / 0.84        0.63 / 0.55
    *   20k     1.29 / 0.93        0.66 / 0.71
    *   50k     2.68 / 1.38        0.93 / 1.07
    *   100k    3.48 / 2.80        1.18 / 1.41
    *   200k    8.73 / 3.95        1.49 / 1.87
    *
    * simhashNn AGGREGATES every candidate (the best-neighbor groupBy
    * shuffles the full pair volume, so narrow's n²/2¹⁶ random
    * collisions dominate early — wide wins from ~5k). The gate filters
    * to hamming ≤ maxHamming INSIDE the join stage before a
    * true-dup-sized distinct, so narrow's extra collisions cost one
    * codegen'd bit_count each and never shuffle — while wide pays 2.5×
    * the block-key shuffle up front. Narrow stays ahead through the
    * whole measured band; 250k sits just past it. Wide must still take
    * over eventually: collision EVALUATIONS grow ∝ n²/2¹⁶ (≈6G pair
    * evals at 10M docs), and at web scale every 16-bit bucket exceeds
    * the hot cap and narrow's recall collapses — the same argument as
    * the NN switch, just with a far larger measured constant gap.
    */
  private[graft] val GateWideThreshold: Long = 250000L

  /** doc_ids with at least one EARLIER (lower-id) document within
    * `maxHamming` simhash bits — the keep-first near-dup gate for
    * curation: flagged docs drop, their earlier counterpart survives.
    *
    * Banding is count-sized like [[simhashNn]] (r19) but against the
    * gate's own measured crossover ([[GateWideThreshold]] — see its
    * sweep table): narrow through the whole measured band, wide past
    * it, so web-scale corpora keep bounded buckets and recall. Scheme
    * choice is ≤3-hamming-exact under BOTH bandings (pigeonhole), and
    * the oracle CTE chain CASEs on the same corpus count and threshold,
    * so the gate's verdicts stay hash-checked across the switch.
    *
    * NOTE for library callers: scheme dispatch needs the corpus COUNT, so
    * CONSTRUCTING this DataFrame runs one eager `docs.count()` job (an
    * id-column scan — no text is read) even if the result is never
    * executed, and a caller whose `docs` is itself expensive to compute
    * should cache/checkpoint it first or the count triggers a second full
    * computation. This is the established [[simhashNn]] idiom: the
    * alternative (deferring the choice into the plan) would need a
    * data-dependent physical strategy for no measured win at any rung.
    */
  def simhashNearDupIds(docs: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = SimhashMaxBucket,
                        wideThreshold: Long = GateWideThreshold): DataFrame = {
    // scheme choice needs the corpus SIZE only — an id-column count, no
    // text hashing (the signature table materializes once, later)
    val n = docs.select("doc_id").count()
    hammingCandidates(simhashTable(docs), maxBucket, n, wideThreshold)
      .filter(col("hamming") <= maxHamming && col("nn_id") < col("doc_id"))
      .select("doc_id").distinct()
  }

  def dedupSimhashNn(s: SparkSession, dir: String): DataFrame =
    simhashNn(Tables.documents(s, dir))

  // --------------------------------------------------------------- C25
  /** Incremental dedup — the shape that matters at 100 TB: you never
    * re-dedup the whole corpus, you dedup the NEW shard against it. Each
    * `delta` document reports whether its exact content already exists in
    * `corpus` (content-hash semi join — the corpus side shuffles only
    * 16-byte hashes) and whether a corpus document sits within
    * `maxHamming` simhash bits (Manku block equi-join delta↔corpus, with
    * the same hot-block cap as [[simhashNn]], counted over the combined
    * table so a degenerate block value on either side is bounded). Corpus
    * text is never moved: both signals travel as per-row hashes computed
    * scan-stage.
    */
  def dedupIncremental(corpus: DataFrame, delta: DataFrame,
                       maxHamming: Int = 3,
                       maxBucket: Int = SimhashMaxBucket): DataFrame = {
    val exact = delta
      .select(col("doc_id"), md5(col("text").cast("binary")).as("__h"))
      .join(corpus.select(md5(col("text").cast("binary")).as("__h"))
        .distinct().withColumn("__e", lit(true)), Seq("__h"), "left")
      .select(col("doc_id"), coalesce(col("__e"), lit(false)).as("dup_exact"))
    val all = corpus.select(col("doc_id"), col("text"),
        lit(false).as("__isDelta"))
      .unionByName(delta.select(col("doc_id"), col("text"),
        lit(true).as("__isDelta")))
    val wBlock = Window.partitionBy("block", "bv")
    val blocks = all
      .select(col("doc_id"), col("__isDelta"),
        graft.functions.PortableHash.md5_simhash(col("text")).as("simhash"))
      .select(col("doc_id"), col("__isDelta"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("block"),
            shiftrightunsigned(col("simhash"), b * 16)
              .bitwiseAND(lit(0xFFFFL)).as("bv"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("__isDelta"), col("simhash"),
        col("bk.block"), col("bk.bv"))
      .withColumn("__n", count(lit(1)).over(wBlock))
      .filter(col("__n") <= maxBucket)
      .localCheckpoint(false) // shared by both join sides, one computation
    val near = blocks.filter(col("__isDelta"))
      .select(col("doc_id"), col("simhash").as("sh_a"), col("block"), col("bv"))
      .join(blocks.filter(!col("__isDelta"))
        .select(col("simhash").as("sh_b"), col("block"), col("bv")),
        Seq("block", "bv"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
      .select("doc_id").distinct()
      .withColumn("dup_near", lit(true))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"),
        (col("dup_exact") || coalesce(col("dup_near"), lit(false)))
          .as("is_dup"))
  }

  /** Query entry: the doc_id % 10 == 7 slice plays the incoming shard,
    * everything else the standing corpus.
    */
  def dedupIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    dedupIncremental(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7))
  }

  val dedupIncrementalOracle: String =
    s"""WITH $simhashBlocksSqlCtes,
       |exact AS (
       |  SELECT DISTINCT d.doc_id
       |  FROM (SELECT doc_id, md5(text) AS h FROM documents
       |        WHERE doc_id % 10 = 7) d
       |  JOIN (SELECT DISTINCT md5(text) AS h FROM documents
       |        WHERE doc_id % 10 <> 7) c USING (h)),
       |near AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM pruned a JOIN pruned b USING (block, bv)
       |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
       |    AND bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT del.doc_id,
       |  e.doc_id IS NOT NULL AS dup_exact,
       |  n.doc_id IS NOT NULL AS dup_near,
       |  (e.doc_id IS NOT NULL OR n.doc_id IS NOT NULL) AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) del
       |LEFT JOIN exact e USING (doc_id)
       |LEFT JOIN near n USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C4
  /** N-gram Jaccard over candidate pairs from a shingle inverted index:
    * explode distinct shingles, drop shingles with document frequency >
    * maxDf (ubiquitous shingles generate quadratic candidates and carry no
    * signal — the standard prefix-filter trick), pair within posting
    * lists, then exact Jaccard on the full shingle sets. Shuffle is
    * bounded by Σ df² over rare shingles, not n².
    */
  def dedupNgramJaccard(s: SparkSession, dir: String,
                        maxDf: Int = 5, minJaccard: Double = 0.03): DataFrame = {
    // Everything flows from one exploded posting list (doc_id, shingle-
    // hash): candidate pairs come from per-shingle buckets (df ≤ maxDf →
    // ≤ df²/2 pairs per bucket, shuffle ∝ data not n²), and |A∩B| is a
    // count over co-occurring postings — set arrays are never shuffled.
    // The list is read four times downstream (sizes, pairs, both sides of
    // the intersection join); one materialized pass beats four
    // scan+shingle recomputations. Lazy localCheckpoint, not persist(): a
    // persist()'d relation is pinned by the CacheManager until someone
    // session-wide unpersists it — a contract this library entry point
    // can't impose on its caller — while checkpoint blocks are reclaimed
    // by the ContextCleaner once the driver GCs the dropped reference.
    // Lazy keeps DataFrame construction plan-only (same pattern as the
    // simhash block table above).
    val posting = shingleHashes(Tables.documents(s, dir)).localCheckpoint(false)
    val sizes = posting.groupBy("doc_id")
      .agg(count(lit(1)).as("sz"))
    // bucket = posting list of one rare shingle; pairs via in-array
    // combinations (sorted → doc_a < doc_b, no self/dup pairs). The
    // document frequency comes from a count-over-window BEFORE the
    // collect_list, so ubiquitous shingles never materialize their (large,
    // immediately-discarded) posting arrays — and the groupBy reuses the
    // window's hash partitioning on `h`, so the prune costs no extra
    // shuffle.
    val wH = Window.partitionBy("h")
    val pairs = posting
      .withColumn("__df", count(lit(1)).over(wH))
      .filter(col("__df").between(2, maxDf))
      .groupBy("h").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // |A∩B| = co-occurring shingle hashes of the candidate pair
    val inter = pairs
      .join(posting.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(posting.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  // --------------------------------------------------------------- C42
  /** Asymmetric shingle CONTAINMENT over the same posting-list kernel as
    * C4: containment(pair) = |A∩B| / min(|A|,|B|) — the score that finds
    * doc-in-doc relationships Jaccard structurally cannot (a 100-shingle
    * boilerplate block embedded in a 10 000-shingle page has Jaccard
    * ≈ 0.01 but containment 1.0). The standard subset/boilerplate
    * detector in training-data curation (quotes, mirrored sections,
    * template wrappers). Candidates ride the identical rare-shingle
    * prefix filter (df ≤ maxDf), so candidate pairs stay ∝ Σ min(df,
    * maxDf)² ≤ maxDf² × #shingles — count-sized, never all-pairs — at
    * the documented recall trade: a subset doc sharing ONLY ubiquitous
    * shingles with its container is missed, exactly as in C4. Output
    * orients each pair as (contained ⊆ container) by size, id-ascending
    * on ties, so consumers can drop `doc_contained` directly.
    *
    * Plan shape (the r17 2.56×-per-10×-isolated diagnosis — the wall was
    * never candidate COUNT, it was posting-list exchanges):
    *  - the df prefix filter is an AGGREGATE + join-back, not a
    *    `count().over(partitionBy(h))` window — the window shuffles and
    *    sorts the entire data-sized posting list by shingle (a hot
    *    shingle's full posting serializes into one task), where the
    *    aggregate map-side-combines to one count per distinct shingle per
    *    task and the surviving df∈[2,maxDf] set is small enough for AQE
    *    to broadcast, with the join-back bounding every collect_list
    *    group at maxDf rows;
    *  - intersections ride PER-DOC SHINGLE ARRAYS (`shingle_hashes` is
    *    per-doc distinct, so `array_intersect` sizes are exactly the
    *    posting-join counts): the count-sized pair list joins the
    *    one-row-per-doc array table twice — AQE broadcasts the pair
    *    side, so the old plan's two data-sized posting exchanges (the
    *    measured decade wall) disappear; worst case both joins degrade
    *    to ONE doc-keyed shuffle each of the array table, still ≤ the
    *    old posting shuffles with a per-doc (not per-shingle) row count.
    */
  def dedupContainment(s: SparkSession, dir: String,
                       maxDf: Int = 5, minContainment: Double = 0.3): DataFrame = {
    val docSets = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.Sketch.shingle_hashes(col("text"), 3).as("hs"))
      .localCheckpoint(false)
    val posting = docSets.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = posting.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxDf))
      .select("h")
    val pairs = posting
      .join(rare, "h")
      .groupBy("h").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    pairs
      .join(docSets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("sz_a", size(col("hs_a")))
      .withColumn("sz_b", size(col("hs_b")))
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= minContainment)
      // orient: smaller shingle set = the contained side (id breaks ties)
      .withColumn("__a_small", col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("doc_a") < col("doc_b")))
      .select(
        when(col("__a_small"), col("doc_a")).otherwise(col("doc_b")).as("doc_contained"),
        when(col("__a_small"), col("doc_b")).otherwise(col("doc_a")).as("doc_container"),
        col("containment"))
  }

  /** C4's oracle skeleton with the containment math and size-orientation
    * mirrored (same injective shingle-string ≡ shingle-hash argument).
    */
  val dedupContainmentOracle: String =
    """WITH posting AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(t) < 3 THEN [text]
      |        ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
      |        END) AS shingle
      |    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) d) u),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM posting GROUP BY doc_id),
      |rare AS (SELECT shingle FROM posting GROUP BY shingle
      |         HAVING COUNT(*) BETWEEN 2 AND 5),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM posting a JOIN posting b USING (shingle) JOIN rare USING (shingle)
      |  WHERE a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      |  FROM pairs p
      |  JOIN posting a ON a.doc_id = p.doc_a
      |  JOIN posting b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)
      |SELECT doc_contained, doc_container, containment FROM (
      |  SELECT
      |    CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND doc_a < doc_b)
      |      THEN doc_a ELSE doc_b END AS doc_contained,
      |    CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND doc_a < doc_b)
      |      THEN doc_b ELSE doc_a END AS doc_container,
      |    CAST(n_inter AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b) t
      |WHERE containment >= 0.3 ORDER BY doc_contained, doc_container""".stripMargin

  // --------------------------------------------------------------- C5
  /** Embedding-cosine near-dup: block vectors by a random-hyperplane LSH
    * bucket, take each vector's best cosine neighbor within its bucket,
    * flag pairs above threshold. Candidates ∝ n²/2^bits, so the bucket
    * width is COUNT-SIZED ([[lshBitsFor]] — the C33 idiom: smallest b
    * with n ≤ TargetBucket·2^b): buckets hold ~TargetBucket vectors at
    * ANY corpus size and candidate volume stays ∝ n·TargetBucket, linear
    * in the data. A fixed width was the measured decade killer here
    * (16 buckets × 10× rows = 100× pairs, 3.4× isolated decade min); the
    * oracle rides the dynamic channel so DuckDB blocks at the same
    * count-derived width. Vectors are unit norm, so cosine = dot.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingAt(s, dir, embeddingLshBits(s, dir), EmbDupThreshold)

  /** The near-dup cosine bar the C5 query AND its oracle share (the
    * oracle interpolates it — query and oracle cannot desync). A
    * non-default threshold goes through [[dedupEmbeddingAt]], whose
    * `bits` parameter is explicit — the public entry takes NO numeric
    * parameters, so a legacy positional `dedupEmbedding(s, dir, bits)`
    * call fails to compile instead of silently becoming a threshold.
    */
  val EmbDupThreshold: Double = 0.95

  /** The count-derived hyperplane width — ONE definition for the query
    * and the dynamic oracle (both sides must block identically). The
    * count scan is memoized per (session, dir): the query side and the
    * dynamic-oracle dump both need it in one run, and the second probe
    * must not re-scan the table.
    */
  private[graft] def embeddingLshBits(s: SparkSession, dir: String): Int = {
    val key = dir
    val m = lshBitsCache.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Int]())
    m.computeIfAbsent(key,
      _ => lshBitsFor(Tables.embeddings(s, dir).select("vec_id").count()))
  }

  private val lshBitsCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, Int]]())

  /** Fixed-width form of [[dedupEmbedding]] (specs pin the width
    * explicitly; the public entry count-sizes it).
    */
  private[graft] def dedupEmbeddingAt(s: SparkSession, dir: String,
                     bits: Int, threshold: Double = 0.95): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("bucket", graft.ann.Ann.hyperplaneBucket(col("embedding"), bits))
    val a = e.select(col("vec_id"), col("embedding"), col("bucket"))
    val b = e.select(col("vec_id").as("nn_id"),
      col("embedding").as("nn_emb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      // project the vectors away the moment the cosine exists — the top-1
      // reduce then rides 24 bytes/candidate, not two 256-byte embeddings.
      // Argmax as a struct-MIN aggregate over (−cosine, nn_id): map-side
      // partial combine collapses each task's candidates to one row per
      // vec before the shuffle (a window would sort the full pair volume);
      // negation is exact, so (−cosine asc, nn_id asc) ≡ (cosine desc,
      // nn_id asc) — the oracle's ORDER BY, bit for bit.
      .select(col("vec_id"), col("nn_id"),
        graft.ann.Ann.dot(col("embedding"), col("nn_emb")).as("cosine"))
      .groupBy("vec_id")
      .agg(min(struct((-col("cosine")).as("neg"), col("nn_id"))).as("m"))
      .select(col("vec_id"), col("m.nn_id").as("nn_id"),
        (-col("m.neg")).as("cosine"))
      .withColumn("is_dup", col("cosine") >= threshold)
  }

  /** Oracle over shingle STRINGS where the engine uses shingle hashes: the
    * spaces-join of tokens is injective (tokens cannot contain the
    * delimiter), so string-distinctness ≡ hash-distinctness and every
    * df / size / intersection count matches exactly (modulo 64-bit hash
    * collisions, ~n²/2⁶⁴). Mirrors dedupNgramJaccard's defaults
    * (n=3, maxDf=5, minJaccard=0.03) and its <3-token whole-text fallback.
    */
  val dedupNgramJaccardOracle: String =
    """WITH posting AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(t) < 3 THEN [text]
      |        ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
      |        END) AS shingle
      |    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) d) u),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM posting GROUP BY doc_id),
      |rare AS (SELECT shingle FROM posting GROUP BY shingle
      |         HAVING COUNT(*) BETWEEN 2 AND 5),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM posting a JOIN posting b USING (shingle) JOIN rare USING (shingle)
      |  WHERE a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      |  FROM pairs p
      |  JOIN posting a ON a.doc_id = p.doc_a
      |  JOIN posting b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b) t
      |WHERE jaccard >= 0.03 ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle with the same seeded hyperplane constants emitted as SQL
    * (Vec.cosineLshBucketSql), so DuckDB blocks identically and the
    * best-neighbor choice matches exactly.
    */
  private[dedup] def dedupEmbeddingOracleFor(bits: Int): String = {
    val bucket = graft.functions.Vec.cosineLshBucketSql("embedding", bits)
    """WITH b AS (SELECT vec_id, embedding, BUCKET_EXPR AS bucket FROM embeddings),
      |s AS (
      |  SELECT a.vec_id, bb.vec_id AS nn_id,
      |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(bb.embedding AS DOUBLE[])) AS cosine
      |  FROM b a JOIN b bb USING (bucket) WHERE a.vec_id <> bb.vec_id)
      |SELECT vec_id, nn_id, cosine, cosine >= THRESH AS is_dup FROM (
      |  SELECT vec_id, nn_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn
      |  FROM s) t WHERE rn = 1 ORDER BY vec_id""".stripMargin
      .replace("BUCKET_EXPR", bucket)
      .replace("THRESH", EmbDupThreshold.toString)
  }

  /** Full-pipeline minhash oracle. Signatures: md5-KM permutations in
    * 32-bit-word arithmetic — the exact mod-2^64 value of Spark's wrapping
    * `a + i·b`, with the two's-complement CASE keeping every intermediate
    * inside BIGINT. Band keys: identical decimal concatenation. Label
    * propagation: [[propagationUnrollSql]] at the same [[CcIterations]]
    * cap the Spark kernel runs under.
    */
  val dedupMinhashOracle: String = {
    val k = 64
    val rows = 4 // k / bands, matching dedupMinhash's defaults
    s"""WITH posting AS (
       |  SELECT doc_id, md5(sh) AS h FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [text]
       |      ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
       |      END) AS sh
       |    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) d) u),
       |words AS (
       |  SELECT doc_id,
       |    ('0x' || substr(h, 1, 8))::BIGINT AS ahi,
       |    ('0x' || substr(h, 9, 8))::BIGINT AS alo,
       |    ('0x' || substr(h, 17, 8))::BIGINT AS bhi,
       |    ('0x' || substr(h, 25, 8))::BIGINT AS blo
       |  FROM posting),
       |perm AS (
       |  SELECT doc_id, i,
       |    CASE WHEN hi >= 2147483648
       |      THEN (hi - 4294967296)*4294967296 + (lo % 4294967296)
       |      ELSE hi*4294967296 + (lo % 4294967296) END AS g
       |  FROM (SELECT doc_id, i, alo + i*blo AS lo,
       |          (ahi + i*bhi + (alo + i*blo) // 4294967296) % 4294967296 AS hi
       |        FROM words CROSS JOIN range($k) ii(i)) t),
       |sig AS (SELECT doc_id, i, MIN(g) AS s FROM perm GROUP BY doc_id, i),
       |banded AS (
       |  SELECT doc_id, md5((i // $rows) || ',' ||
       |    string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bkey
       |  FROM sig GROUP BY doc_id, i // $rows),
       |edges AS MATERIALIZED (
       |  SELECT doc_id, bkey FROM (
       |    SELECT doc_id, bkey, COUNT(*) OVER (PARTITION BY bkey) AS n
       |    FROM banded) t WHERE n >= 2),
       |${propagationUnrollSql(CcIterations)}
       |SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN l$CcIterations l USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared DuckDB CTE list computing (doc_id, simhash) exactly as
    * [[simhashTable]] does: token hash = first 64 bits of md5(token)
    * (nibble j/4 of the hex string, bit j%4 within it), per-bit ±1 sums,
    * sign recombination. Bit 63's weight is emitted as the signed
    * two's-complement value so the whole sum stays in BIGINT — identical
    * to Spark's wrapping `shiftleft(1L, 63)`.
    */
  /** VALUES rows (j, 2^j) for rebuilding a 64-bit signature from per-bit
    * rows in SQL — j=63 wraps to Long.MinValue (DuckDB sums in HUGEINT,
    * the BIGINT cast restores two's complement). Shared with the image
    * perceptual-hash oracle (graft.multimodal.Multimodal).
    */
  private[graft] def bitWeightsSqlValues: String =
    (0 until 64).map { j =>
      val w = 1L << j // j=63 wraps to Long.MinValue — intended
      if (w < 0) s"($j, -9223372036854775807 - 1)" else s"($j, ${w}::BIGINT)"
    }.mkString(", ")

  private def simhashSqlCtes: String = {
    val weights = bitWeightsSqlValues
    s"""tok AS (
       |  SELECT doc_id, md5(tok) AS hx
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) t),
       |bits AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((strpos('0123456789abcdef',
       |        substr(hx, CAST(16 - j // 4 AS INTEGER), 1)) - 1)
       |        >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM tok CROSS JOIN range(64) js(j)
       |  GROUP BY doc_id, j),
       |pw(j, w) AS (VALUES $weights),
       |sim AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN w ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits JOIN pw USING (j)
       |  GROUP BY doc_id)""".stripMargin
  }

  val dedupSimhashOracle: String =
    s"""WITH $simhashSqlCtes
       |SELECT doc_id, simhash, (simhash >> 48) & 65535 AS bucket
       |FROM sim ORDER BY doc_id""".stripMargin

  /** Manku blocks + hot-block prune over `sim` — shared by the NN oracle
    * and the curation near-dup gate's SQL.
    */
  private def simhashBlocksSqlCtes: String =
    s"""$simhashSqlCtes,
       |blocks AS (
       |  SELECT doc_id, simhash, bk.block,
       |    (simhash >> CAST(16 * bk.block AS INTEGER)) & 65535 AS bv
       |  FROM sim CROSS JOIN range(4) bk(block)),
       |pruned AS (
       |  SELECT doc_id, simhash, block, bv FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY block, bv) AS n
       |    FROM blocks) t WHERE n <= $SimhashMaxBucket)""".stripMargin

  /** SQL mirror of the narrow scheme's first-agreement condition, over
    * join aliases `a`/`b` and the `block` column — used by the
    * scheme-CASEd candidate chain ([[hammingCandSqlCtes]]), which both
    * the NN report and the curation gate build on, so the r16
    * pair-dedup semantics can't drift between them.
    */
  private def narrowFirstAgreementSql: String = {
    def nAgreeSql(b: Int): String =
      s"((a.simhash >> ${16 * b}) & 65535) = ((b.simhash >> ${16 * b}) & 65535)"
    (0 until 4).map { b =>
      if (b == 0) "(block = 0)"
      else s"(block = $b AND ${(0 until b)
        .map(p => s"NOT ${nAgreeSql(p)}").mkString(" AND ")})"
    }.mkString("(", " OR ", ")")
  }

  /** CTE chain ending in nd(doc_id): docs with an earlier near-dup —
    * SQL mirror of [[simhashNearDupIds]], riding the scheme-CASEd
    * candidate chain ([[hammingCandSqlCtes]]) since r19 so the oracle
    * picks the same count-sized banding as the Spark gate — including
    * the r16 first-agreement condition (the Spark kernel emits a pair
    * only in its first agreeing block, so a pair whose first agreement
    * is hot-pruned must not resurface here via a later block either).
    */
  private[graft] def simhashNearDupSqlCtes(maxHamming: Int = 3): String =
    s"""$simhashSqlCtes,
       |ndids AS (SELECT doc_id FROM documents),
       |${hammingCandSqlCtes("ndids", "sim", SimhashMaxBucket, GateWideThreshold)},
       |nd AS (
       |  SELECT DISTINCT doc_id FROM cand
       |  WHERE nn_id < doc_id AND hamming <= $maxHamming)""".stripMargin

  /** Shared DuckDB mirror of [[hammingCandidates]]: CTE chain over a
    * `sigCte`(doc_id, simhash) relation, CASEing on `idsCte`'s row count
    * to pick the SAME banding scheme the Spark side picks (narrow 4×16
    * blocks vs wide 5-block pair combos) — the count-gated WHERE empties
    * whichever branch doesn't apply. Arithmetic-shift-then-mask equals
    * Spark's unsigned-shift-then-mask for every kept bit (the mask drops
    * the smeared sign bits). Ends in `cand`(doc_id, nn_id, hamming),
    * both orientations per pair, first-agreement-deduped.
    */
  private[graft] def hammingCandSqlCtes(idsCte: String, sigCte: String,
                                        maxBucket: Int,
                                        wideThreshold: Long = HammingWideThreshold): String = {
    val combos = WideCombos.zipWithIndex
      .map { case (Seq(i, j), c) => s"($c, $i, $j)" }.mkString(", ")
    val wblocks = WideBlocks.zipWithIndex
      .map { case ((off, w), b) => s"($b, $off, ${(1L << w) - 1})" }
      .mkString(", ")
    // first-agreement dedup, the SQL mirror of hammingCandidates'
    // post-join filter: a pair is kept only in its lexicographically-
    // first agreeing block / block-pair combo
    val narrowFirst = narrowFirstAgreementSql
    def wAgreeSql(b: Int): String = {
      val (off, w) = WideBlocks(b)
      s"((a.simhash >> $off) & ${(1L << w) - 1}) = " +
        s"((b.simhash >> $off) & ${(1L << w) - 1})"
    }
    val wideFirst = WideCombos.zipWithIndex.map { case (bs, c) =>
      val gaps = comboGaps(bs)
      if (gaps.isEmpty) s"(block = $c)"
      else s"(block = $c AND ${gaps
        .map(b => s"NOT ${wAgreeSql(b)}").mkString(" AND ")})"
    }.mkString("(", " OR ", ")")
    s"""hcnt AS (SELECT COUNT(*) AS n FROM $idsCte),
       |nblocks AS (
       |  SELECT doc_id, simhash, bk.block,
       |    (simhash >> CAST(16 * bk.block AS INTEGER)) & 65535 AS bv
       |  FROM $sigCte CROSS JOIN range(4) bk(block)
       |  WHERE (SELECT n FROM hcnt) <= $wideThreshold),
       |wb(wbid, off, mask) AS (VALUES $wblocks),
       |bvals AS (
       |  SELECT doc_id, simhash, wbid,
       |    (simhash >> CAST(off AS INTEGER)) & mask AS v
       |  FROM $sigCte CROSS JOIN wb
       |  WHERE (SELECT n FROM hcnt) > $wideThreshold),
       |combo(c, ci, cj) AS (VALUES $combos),
       |wideblocks AS (
       |  SELECT v1.doc_id, v1.simhash, combo.c AS block,
       |    v1.v * ${1L << PackBits} + v2.v AS bv
       |  FROM combo
       |  JOIN bvals v1 ON v1.wbid = combo.ci
       |  JOIN bvals v2 ON v2.wbid = combo.cj AND v2.doc_id = v1.doc_id),
       |allblocks AS (
       |  SELECT * FROM nblocks UNION ALL SELECT * FROM wideblocks),
       |pruned AS (
       |  SELECT doc_id, simhash, block, bv FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY block, bv) AS n
       |    FROM allblocks) t WHERE n <= $maxBucket),
       |cand AS (
       |  SELECT a.doc_id, b.doc_id AS nn_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM pruned a JOIN pruned b USING (block, bv)
       |  WHERE a.doc_id <> b.doc_id
       |    AND (CASE WHEN (SELECT n FROM hcnt) <= $wideThreshold
       |         THEN $narrowFirst ELSE $wideFirst END))""".stripMargin
  }

  /** [[hammingCandSqlCtes]] + the best-neighbor argmin — ends in
    * `best`(doc_id, nn_id, hamming); the caller writes the final SELECT.
    */
  private[graft] def hammingNnSqlTail(idsCte: String, sigCte: String,
                                      maxBucket: Int,
                                      wideThreshold: Long = HammingWideThreshold): String =
    s"""${hammingCandSqlCtes(idsCte, sigCte, maxBucket, wideThreshold)},
       |best AS (
       |  SELECT doc_id, nn_id, hamming FROM (
       |    SELECT doc_id, nn_id, hamming,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY hamming, nn_id) AS rn
       |    FROM cand) t WHERE rn = 1)""".stripMargin

  /** Manku block self-join + best-neighbor, mirroring [[simhashNn]]
    * defaults (count-sized scheme, maxHamming=3, maxBucket=1000).
    */
  val dedupSimhashNnOracle: String =
    s"""WITH $simhashSqlCtes,
       |dids AS (SELECT doc_id FROM documents),
       |${hammingNnSqlTail("dids", "sim", SimhashMaxBucket)}
       |SELECT d.doc_id, b.nn_id, b.hamming, b.hamming <= 3 AS is_dup
       |FROM dids d LEFT JOIN best b USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C33
  /** Default cosine-LSH sizing for [[dedupEmbeddingClusters]]: aim for
    * `TargetBucket` representatives per bucket (so in-bucket all-pairs
    * work is ~TargetBucket²/2 cosines per bucket), never fewer than
    * `MinLshBits` planes (16 buckets — the historical fixed setting,
    * preserved at test SFs so oracles and recall behavior carry over) and
    * never more than `MaxLshBits` (4096 buckets; beyond that random-
    * hyperplane recall for 0.95-cosine neighbors decays sharply).
    * `MaxRepBucket` is the Manku-style hot-bucket guard: a bucket holding
    * more DISTINCT vectors than this after exact-collapse generates no
    * candidate pairs at all (its members cluster only via exact-collapse)
    * — bounded worst-case task cost (≤ MaxRepBucket²/2 cosines) bought
    * with a documented recall loss on adversarially-concentrated inputs,
    * exactly the `SimhashMaxBucket` tradeoff.
    */
  private[dedup] val TargetBucket = 128
  private[dedup] val MinLshBits = 4
  private[dedup] val MaxLshBits = 12
  private[dedup] val MaxRepBucket = 1024

  /** Smallest b in [minBits, maxBits] with 2^b ≥ ⌈n / targetBucket⌉,
    * i.e. n ≤ targetBucket·2^b — pure integer arithmetic, mirrored
    * verbatim by [[lshBitsSqlCase]] so both engines pick the same width.
    */
  private[graft] def lshBitsFor(n: Long, targetBucket: Int = TargetBucket,
                                minBits: Int = MinLshBits,
                                maxBits: Int = MaxLshBits): Int = {
    var b = minBits
    while (b < maxBits && n > (targetBucket.toLong << b)) b += 1
    b
  }

  /** [[lshBitsFor]] as a SQL CASE chain over a count expression. */
  private[graft] def lshBitsSqlCase(cnt: String, targetBucket: Int = TargetBucket,
                                    minBits: Int = MinLshBits,
                                    maxBits: Int = MaxLshBits): String = {
    val whens = (minBits until maxBits)
      .map(b => s"WHEN $cnt <= ${targetBucket.toLong << b} THEN $b").mkString(" ")
    s"(CASE $whens ELSE $maxBits END)"
  }

  /** Candidate pairing + propagation over an already-collapsed
    * representative table (vec_id, embedding) — the shared kernel under
    * C33/C33b. Bucket at `bits` hyperplanes; with `maxBucket` set, buckets
    * holding more reps than the cap are pruned before pairing (one window
    * count over the bucketing shuffle — the Manku hot-block pattern), so
    * per-bucket pair generation is hard-bounded no matter how the corpus
    * concentrates. Then all-pairs within buckets gated by cosine ≥
    * `threshold`, each surviving pair a 2-member hyper-edge into
    * [[propagateLabels]]. Candidates ∝ Σ bucket², embeddings projected
    * away before any shuffle, propagation input is the near-dup subset
    * only. Returns (vec_id, cluster_id) for every rep.
    */
  /** Keep only rows whose `bucket` holds ≤ `cap` rows. Bucket sizes via a
    * (bucket)-only aggregate + broadcast semi join — a window count would
    * shuffle every row WITH its embedding array; this shuffles map-combined
    * (bucket, count) pairs (≤ 2^bits rows) and prunes map-side.
    */
  private[graft] def pruneHotBuckets(bucketed: DataFrame, cap: Int,
                                     key: String = "bucket"): DataFrame = {
    val keep = broadcast(bucketed.groupBy(key)
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap)
      .select(key))
    bucketed.join(keep, key)
  }

  private def clusterReps(reps: DataFrame, bits: Int, threshold: Double,
                          ccIterations: Int, maxBucket: Option[Int]): DataFrame = {
    val bucketed = reps.withColumn("bucket",
      graft.ann.Ann.hyperplaneBucket(col("embedding"), bits))
    val e = maxBucket.fold(bucketed)(pruneHotBuckets(bucketed, _))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"), col("bucket"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"), col("bucket"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        graft.ann.Ann.dot(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select("ida", "idb")
      .distinct() // multi-bucket co-occurrence adds no information
    val pkey = concat_ws("_", col("ida"), col("idb"))
    val edges = pairs.select(col("ida").as("doc_id"), pkey.as("bkey"))
      .unionByName(pairs.select(col("idb").as("doc_id"), pkey.as("bkey")))
      .localCheckpoint(true)
    val labels = propagateLabels(edges, ccIterations)
    org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(edges)
    reps.select(col("vec_id"))
      .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
  }

  /** (vec_id, embedding, __k = xxhash64(embedding)) — the shared collapse
    * key projection of the C33 kernel. */
  private def withCollapseKey(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      xxhash64(col("embedding")).as("__k"))

  /** One min-id rep per collapse key, persisted (multiple consumers).
    * `first(embedding)` is exact: every row of a key group carries the
    * identical array (modulo the accepted 64-bit collision class). */
  private def collapseReps(keyed: DataFrame): DataFrame =
    keyed.groupBy("__k")
      .agg(min("vec_id").as("vec_id"), first("embedding").as("embedding"))
      .persist()

  /** Re-attach every member of `keyed` to its representative's cluster
    * via the 8-byte collapse key (AQE-splittable 1:n, hash join both
    * sides, no vectors on the member side; no collect_list — a
    * billion-copy vector costs a map-side-combined `min` and a streamed
    * join, never an array).
    */
  private def attachMembers(keyed: DataFrame, reps: DataFrame,
                            repClusters: DataFrame): DataFrame =
    keyed.select(col("vec_id"), col("__k"))
      .join(reps.select(col("__k"), col("vec_id").as("rep")), "__k")
      .select(col("vec_id"), col("rep"))
      .join(repClusters.withColumnRenamed("vec_id", "rep"), "rep")
      .select("vec_id", "cluster_id")

  /** Embedding near-dup CLUSTERS — the missing half of C5: pairwise
    * flags tell you two vectors are near-dups, but keep-one-per-group
    * dedup needs the transitive closure (A≈B, B≈C ⇒ one cluster even
    * when A·C < threshold).
    *
    * Scale shape, in order of defense:
    *  1. **Exact-collapse first**: bit-identical embeddings group to one
    *     representative (min id) before any pairing. On replica-heavy
    *     corpora — the web-crawl shape — in-bucket pair work is quadratic
    *     in copy count, while every edge a copy would contribute is
    *     already implied by its representative (same vector ⇒ same
    *     bucket, same cosines). Identical output on converged graphs:
    *     components over reps equal components over members, and each
    *     group's min IS its rep, so the component min-label is unchanged.
    *  2. **Bits scale with the collapsed count**: one cheap count over
    *     the rep table picks ⌈log2(n/[[TargetBucket]])⌉ hyperplanes
    *     (clamped to [[[MinLshBits]], [[MaxLshBits]]]), keeping expected
    *     bucket fill ≈ TargetBucket as the corpus grows instead of
    *     letting 16 fixed buckets go quadratic. The oracle computes the
    *     SAME width in SQL ([[lshBitsSqlCase]] over COUNT(reps)) and
    *     truncates a [[MaxLshBits]]-plane bucket with `& (2^bits − 1)` —
    *     valid because plane p contributes bit 2^p and the seeded plane
    *     sequence for b bits is a prefix of the sequence for b' > b.
    *  3. **Hot-bucket cap** ([[MaxRepBucket]]): buckets that still
    *     overflow (adversarially-concentrated directions) are pruned
    *     from pairing entirely — the `SimhashMaxBucket` recall tradeoff,
    *     never an unbounded task.
    */
  def dedupEmbeddingClusters(emb: DataFrame,
                             threshold: Double = 0.95,
                             ccIterations: Int = CcIterations,
                             targetBucket: Int = TargetBucket,
                             minBits: Int = MinLshBits,
                             maxBits: Int = MaxLshBits,
                             maxBucket: Int = MaxRepBucket): DataFrame = {
    // the rep table feeds THREE consumers (the sizing count, candidate
    // pairing, member re-attachment) — persist it so the collapse shuffle
    // runs once, not per consumer. Operator-owned persist, reclaimed by
    // the session's clearCache like the shared posting lists. Collapse
    // key = xxhash64(embedding), not the raw array (r17): grouping or
    // joining on array<float> falls out of hash plans into sort-based
    // ones with interpreted array comparisons — the 8-byte key keeps the
    // collapse and the member re-attachment hash-shaped (collision risk
    // ~n²/2⁶⁴, the accepted shingle-hash class; the oracle groups by
    // value, which agrees absent a collision).
    val keyed = withCollapseKey(emb)
    val reps = collapseReps(keyed)
    // one aggregate job over the collapsed reps (tiny next to the pairing
    // it sizes) — the IVF pattern: a bounded driver-side scalar, not data
    val bits = lshBitsFor(reps.count(), targetBucket, minBits, maxBits)
    val repClusters =
      clusterReps(reps, bits, threshold, ccIterations, Some(maxBucket))
    attachMembers(keyed, reps, repClusters)
  }

  /** C33b — the fixed-width, uncapped variant (collapse + 4-bit LSH, no
    * hot-bucket prune): pins the historical C33 geometry so the pair of
    * oracles witnesses that the C33 scale guards (adaptive bits + cap)
    * change nothing on corpora where no bucket overflows.
    */
  def dedupEmbeddingClustersExact(emb: DataFrame,
                                  bits: Int = 4, threshold: Double = 0.95,
                                  ccIterations: Int = CcIterations): DataFrame = {
    val keyed = withCollapseKey(emb)
    val reps = collapseReps(keyed) // shared by pairing + re-attachment
    val repClusters = clusterReps(reps, bits, threshold, ccIterations, None)
    attachMembers(keyed, reps, repClusters)
  }

  /** Shared oracle tail: pair candidates from a bucketed rep CTE `bc`,
    * pair hyper-edges, the [[CcIterations]]-round unroll, then member
    * re-attachment through the exact-group join (DuckDB groups and joins
    * FLOAT[] lists by value, same as Spark's array grouping).
    */
  private def clusterOracleTail(threshold: Double): String =
    s"""p AS (
       |  SELECT DISTINCT a.vec_id AS ida, bb.vec_id AS idb
       |  FROM bc a JOIN bc bb USING (bucket)
       |  WHERE a.vec_id < bb.vec_id
       |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]),
       |          CAST(bb.embedding AS DOUBLE[])) >= $threshold),
       |edges AS MATERIALIZED (
       |  SELECT ida AS doc_id, CAST(ida AS VARCHAR) || '_' || CAST(idb AS VARCHAR) AS bkey FROM p
       |  UNION ALL
       |  SELECT idb, CAST(ida AS VARCHAR) || '_' || CAST(idb AS VARCHAR) FROM p),
       |${propagationUnrollSql(CcIterations)}
       |SELECT e.vec_id, COALESCE(l.label, r.rep) AS cluster_id
       |FROM embeddings e
       |JOIN reps r USING (embedding)
       |LEFT JOIN l$CcIterations l ON l.doc_id = r.rep
       |ORDER BY vec_id""".stripMargin

  /** C33b oracle: exact-collapse + fixed 4-bit planes, no cap. */
  val dedupEmbeddingClustersExactOracle: String = {
    val bucket = graft.functions.Vec.cosineLshBucketSql("embedding", 4)
    s"""WITH reps AS MATERIALIZED (
       |  SELECT embedding, MIN(vec_id) AS rep FROM embeddings GROUP BY embedding),
       |bc AS (SELECT rep AS vec_id, embedding, BUCKET_EXPR AS bucket FROM reps),
       |${clusterOracleTail(0.95)}""".stripMargin
      .replace("BUCKET_EXPR", bucket)
  }

  /** C33 oracle — mirrors every scale guard of [[dedupEmbeddingClusters]]
    * in SQL: exact-collapse, bit width from the SAME integer CASE chain
    * over COUNT(reps), bucket truncated from [[MaxLshBits]] planes with
    * `& (2^bits − 1)` (plane p contributes 2^p and the seeded plane
    * sequence is prefix-stable, so truncation ≡ bucketing at `bits`),
    * then the [[MaxRepBucket]] hot-bucket prune as a window count.
    */
  def dedupEmbeddingClustersOracleFor(targetBucket: Int): String = {
    val bucket = graft.functions.Vec.cosineLshBucketSql("embedding", MaxLshBits)
    s"""WITH reps AS MATERIALIZED (
       |  SELECT embedding, MIN(vec_id) AS rep FROM embeddings GROUP BY embedding),
       |bw AS (SELECT ${lshBitsSqlCase("COUNT(*)", targetBucket)} AS bits FROM reps),
       |bf AS (SELECT rep AS vec_id, embedding, BUCKET_EXPR AS bucket12 FROM reps),
       |bc AS (
       |  SELECT vec_id, embedding, bucket FROM (
       |    SELECT vec_id, embedding, bucket,
       |      COUNT(*) OVER (PARTITION BY bucket) AS n
       |    FROM (SELECT vec_id, embedding,
       |            bucket12 & ((1::BIGINT << bits) - 1) AS bucket
       |          FROM bf CROSS JOIN bw) tt) t
       |  WHERE n <= $MaxRepBucket),
       |${clusterOracleTail(0.95)}""".stripMargin
      .replace("BUCKET_EXPR", bucket)
  }

  val dedupEmbeddingClustersOracle: String =
    dedupEmbeddingClustersOracleFor(TargetBucket)

  /** C33c oracle: [[dedupEmbeddingClustersOracleFor]] at targetBucket=16 —
    * at the sf0.01 gate (500 distinct vectors) the CASE chain lands on 5
    * bits, so the adaptive width + prefix truncation are HASH-VERIFIED
    * cross-engine, not just unit-tested (the production default of 128
    * stays at the 4-bit floor at every test SF).
    */
  val dedupEmbeddingClustersDenseOracle: String =
    dedupEmbeddingClustersOracleFor(16)

  // --------------------------------------------------------------- C30
  /** Cross-document duplicated-span coverage — the corpus-level complement
    * to the intra-doc dup_span signal (C26), approximating substring-level
    * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): a winnowing fingerprint match witnesses a shared character
    * run of length ≥ w+k-1, so a document's fraction of fingerprints with
    * corpus document-frequency ≥ 2 measures how much of it is boilerplate
    * duplicated SOMEWHERE else — without ever materializing pairs.
    *
    * Shape: one fingerprint pass (portable-md5 winnowing, scan-stage
    * native expression, `localCheckpoint`ed once — the relation feeds
    * both per-doc totals and the uniqueness aggregate), then NO tagging
    * join at all: the expression emits per-doc DISTINCT fingerprints, so
    * df = how many docs carry the fp, and a df = 1 fingerprint has a
    * UNIQUE owning doc — `shared_fps(doc) = n_fingerprints(doc) − #{fp :
    * df(fp) = 1 ∧ owner = doc}`, both map-side-combined aggregates
    * (the owner of a df=1 fp IS its min(doc_id)). The former 1:n
    * postings⋈df join re-shuffled the posting table a second time and
    * concentrated boilerplate fingerprints on hot join keys; now nothing
    * downstream of the one posting shuffle is bigger than the fingerprint
    * vocabulary, and no operator co-locates a hot fp's postings. Shuffle
    * ∝ fingerprints (~tokens/w), never pairs: this is what makes
    * span-level dedup signals tractable at 100 TB, where the exact
    * suffix-array formulation is not.
    */
  def crossDocSpans(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val fps = docs
      .select(col("doc_id"),
        explode(graft.functions.Sketch.winnow_fingerprints(col("text"), k, w))
          .as("fp"))
      .localCheckpoint(false)
    val nFps = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fingerprints"))
    val unique = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("__uniq"))
    nFps.join(unique, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fingerprints"),
        (col("n_fingerprints") - coalesce(col("__uniq"), lit(0L)))
          .as("shared_fps"))
      .withColumn("share_ratio",
        col("shared_fps").cast("double") / col("n_fingerprints"))
  }

  /** Replays the C11 winnowing SQL (distinct minima per doc — the Scala
    * expression emits each fingerprint once), then the df tagging in SQL.
    */
  val crossDocSpansOracle: String = {
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
       |  FROM gr),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wins),
       |dfreq AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp)
       |SELECT doc_id, COUNT(*) AS n_fingerprints,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_fps,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS share_ratio
       |FROM fps JOIN dfreq USING (fp)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C36
  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embedding space with the SAME deterministic coarse quantizer the IVF
    * index trains (bounded hash-sample + driver-side Lloyd,
    * graft.ann.Ann.trainIvf), then mark a vector a semantic duplicate when
    * some LOWER-id vector in its cell has cosine ≥ threshold (keep-first,
    * like every other dedup here). The reference repo has no embedding
    * surface at all — this is north-star territory (BASELINE.json) — but
    * its keep-one-per-group MERGE/dedup verbs (tasks/Query History API to
    * Delta_withmetrics.py row_number-qualify) set the keep-first semantics.
    *
    * Scale shape: cell assignment is a pure scan-stage projection (nCells
    * literal dot products per row, no shuffle — the IVF trick); the one
    * shuffle is the cell-key join, and pairs are generated only INSIDE
    * cells, so candidate volume is Σ|cell|². Two bounds govern it, both by
    * the C33 playbook:
    *  1. **Count-sized cells** (graft.ann.Ann.cellsFor via trainIvfSized):
    *     nCells grows with the corpus so expected occupancy stays
    *     ~TargetCellSize — candidate volume ~n·TargetCellSize, not
    *     n²/const. The oracle needs no SQL mirror of the sizing: it is
    *     literal-model, and the literals come from the same sized trainer.
    *  2. **Hot-cell cap** (`maxCell`, default [[MaxCellSize]], the
    *     [[pruneHotBuckets]] kernel on the cell key): a cell holding more
    *     vectors than the cap — adversarial concentration, or corpus
    *     growth past the nCells max clamp — generates NO pairs, bounding
    *     worst-case task cost at ≤ maxCell²/2 cosines. Its members simply
    *     keep is_semdup=false (documented recall loss, the
    *     MaxRepBucket/SimhashMaxBucket tradeoff). The prune shuffles only
    *     map-combined (cell, count) pairs, never embeddings.
    * The best-lower-neighbor reduce is a map-side-combinable
    * struct-max aggregation, not a window, so a hot cell splits across
    * tasks under AQE instead of pinning one.
    */
  def semanticDedup(emb: DataFrame, centroids: Seq[(Long, Array[Float])],
                    threshold: Double = SemThreshold,
                    maxCell: Int = MaxCellSize): DataFrame = {
    // Assignment path picked by model size (Ann.withCells): literal
    // expression ≤64 cells, broadcast-join argmax above — past 64 the
    // generated literal code trips Spark's codegen limits and every
    // consumer of `cell` pays interpreted dots (measured 8 s vs 0.3 s
    // per evaluation at the 256-cell decade).
    //
    // The assignment feeds FOUR consumers (hot-cell count, both pair
    // sides, the final attach); materialize it ONCE (r21). Catalyst
    // compiles each consumer its own copy of the n×cells argmax subtree,
    // and since the r20 keyed fan-out there is no ENSURE_REQUIREMENTS
    // exchange above the argmax left to deduplicate them: the r21
    // baseline measured the join-path argmax (dedup_semantic_dense)
    // re-evaluated 3× — 31 executor-CPU-seconds and a 1.6× isolated
    // regression vs the pre-keying plan whose exchange had acted as the
    // shared materialization point. The checkpoint stores n×(id + cell +
    // vector) rows — the same weight class as semanticDedupClusters'
    // assignedReps checkpoint. §5 tradeoff: localCheckpoint truncates
    // lineage (blocks on executor memory+disk; an executor loss makes
    // them unrecoverable and fails the job rather than recomputing) —
    // accepted here exactly as at Dedup.propagateLabels/assignedReps.
    val assigned = graft.ann.Ann.withCells(emb, centroids)
      .localCheckpoint(false)
    val eligible = pruneHotBuckets(assigned, maxCell, key = "cell")
    val lower = eligible.select(col("cell"), col("vec_id").as("nn_id"),
      col("embedding").as("nn_emb"))
    // project embeddings away the moment the cosine exists: the aggregate
    // input carries 24 bytes/pair, not two 256-byte vectors
    val best = eligible.join(lower, Seq("cell"))
      .filter(col("nn_id") < col("vec_id"))
      .select(col("vec_id"),
        graft.ann.Ann.dot(col("embedding"), col("nn_emb")).as("cosine"),
        col("nn_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("cosine"), (-col("nn_id")).as("neg_nn"))).as("m"))
      .select(col("vec_id"), col("m.cosine").as("nn_cos"),
        (-col("m.neg_nn")).as("nn_id"))
    assigned.select("vec_id", "cell")
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("nn_id"), col("nn_cos"),
        coalesce(col("nn_cos") >= threshold, lit(false)).as("is_semdup"))
  }

  private[graft] val SemThreshold = 0.93

  /** Hot-cell cap for the semantic-dedup kernels — same magnitude and
    * rationale as [[MaxRepBucket]]: worst-case in-cell pair work is
    * ≤ cap²/2 cosines per cell regardless of corpus concentration.
    */
  private[graft] val MaxCellSize = 1024

  def dedupSemanticQuery(s: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(s, dir), graft.ann.Ann.trainIvfSized(s, dir))

  /** Cell count for [[dedupSemanticDenseQuery]] — anything past
    * Ann.LiteralAssignMaxCells forces the broadcast-join assignment path
    * at every test SF.
    */
  private[dedup] val DenseSemCells = 128

  /** C36b: [[semanticDedup]] with a model big enough (128 cells) that the
    * broadcast-join assignment path — the one the count-sizing picks at
    * the decade and beyond — runs at the sf0.01 oracle gate. The C33c
    * trick: the literal-model oracle takes the trained centroids as
    * parameters, so the exact same 128-centroid model is replayed
    * relationally in DuckDB and the join path's assignment, hot-cell
    * prune, and keep-first reduce are all hash-verified cross-engine
    * (the sized default exercises only the ≤64-cell literal path at test
    * SFs).
    */
  def dedupSemanticDenseQuery(s: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(s, dir),
      graft.ann.Ann.trainIvf(s, dir, nCells = DenseSemCells))

  // --------------------------------------------------------------- C40
  /** Semantic-dup CLUSTERS: the transitive closure of [[semanticDedup]]'s
    * within-cell pairs (A≈B, B≈C ⇒ one cluster) through the SAME shared
    * min-label propagation kernel every cc operator here rides
    * ([[propagateLabels]]: checkpointed rounds, convergence exit).
    * Pairs become 2-row hyper-edges keyed by the pair id; vectors with no
    * ≥threshold neighbor stay singleton clusters of themselves. Cluster
    * ids are min member ids — keep-first group representatives.
    *
    * Scale shape inherits from both parents: pair volume bounded by the
    * count-sized cell partition (Ann.cellsFor) AND the hot-cell cap
    * (`maxCell` — capped cells contribute no edges, their members stay
    * singleton clusters), propagation shuffle ∝ edges with the label
    * table checkpointed per round.
    */
  def semanticDedupClusters(emb: DataFrame,
                            centroids: Seq[(Long, Array[Float])],
                            threshold: Double = SemThreshold,
                            ccIterations: Int = CcIterations,
                            maxCell: Int = MaxCellSize): DataFrame = {
    // EXACT-COLLAPSE first (the C33 lesson, applied r17): byte-identical
    // vectors collapse to one min-id rep before assignment, pairing, and
    // propagation, so a duplicate-heavy corpus (the web-scale shape)
    // assigns reps x cells instead of n x cells and propagates rep-graph
    // edges instead of clique-expanded member edges. Result-identical to
    // the uncollapsed form the ORACLE replays: copies share a cell
    // (deterministic assignment), the hot-cell prune counts MEMBERS (sum
    // of group sizes — the same cells prune), cross-group pairs exist
    // iff the rep pair passes the same cosine, intra-group pairs are
    // intra-cluster edges the rep-attachment replaces, and converged
    // min-label propagation is formulation-independent (the same
    // convergence-within-cap contract the oracle unroll already pins).
    // Collapse key = xxhash64(embedding), NOT the raw array: grouping or
    // joining on array<float> falls out of hash plans into sort-based
    // ones with interpreted array comparisons; the 8-byte key keeps both
    // hash-shaped (collision risk ~n^2/2^64, the accepted shingle-hash
    // class).
    val keyed = emb.select(col("vec_id"), col("embedding"),
      xxhash64(col("embedding")).as("__k"))
    // rep table feeds three consumers (assignment, pairing, member
    // re-attachment) — persist so the collapse shuffle runs once
    val reps = keyed.groupBy("__k")
      .agg(min("vec_id").as("vec_id"), first("embedding").as("embedding"),
        count(lit(1)).as("__cnt"))
      .persist()
    val assignedReps = graft.ann.Ann
      .withCells(reps.select("vec_id", "embedding"), centroids)
      .join(reps.select(col("vec_id"), col("__k"), col("__cnt")),
        Seq("vec_id"))
      .localCheckpoint(false) // 3 consumers (hot count, pairing, attach)
    // prune on MEMBER counts: identical prune set to the uncollapsed
    // oracle (HAVING COUNT(*) <= maxCell over the full assignment)
    val hot = broadcast(assignedReps.groupBy("cell")
      .agg(sum("__cnt").as("__n")).filter(col("__n") > maxCell)
      .select(col("cell"), lit(true).as("__hot")))
    val eligible = assignedReps.join(hot, Seq("cell"), "left")
      .filter(col("__hot").isNull)
    val lower = eligible.select(col("cell"), col("vec_id").as("nn_id"),
      col("embedding").as("nn_emb"))
    val pairs = eligible.join(lower, Seq("cell"))
      .filter(col("nn_id") < col("vec_id"))
      .select(col("vec_id"), col("nn_id"),
        graft.ann.Ann.dot(col("embedding"), col("nn_emb")).as("cosine"))
      .filter(col("cosine") >= threshold)
    val pkey = concat_ws(",", col("nn_id"), col("vec_id"))
    // propagateLabels' contract: the caller checkpoints edges (and
    // releases them after). Without this, every propagation round replays
    // the whole assignment+pairing lineage — twice per round — which at
    // the replica-heavy decade cost ~10× the pairing itself (measured
    // 35 s → the checkpoint restores edge-proportional rounds).
    val edges = pairs.select(col("vec_id").as("doc_id"), pkey.as("bkey"))
      .union(pairs.select(col("nn_id").as("doc_id"), pkey.as("bkey")))
      .localCheckpoint(true)
    val labels = propagateLabels(edges, ccIterations)
      .withColumnRenamed("doc_id", "__rep")
    org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(edges)
    // members re-attach by the collapse key (copies share their rep's
    // cell and cluster; the member side carries 16 bytes/row, no
    // vectors); pruned-cell members stay singleton clusters of
    // themselves, exactly as the uncollapsed pairing excluded them.
    // __selfok removes the unit-norm ASSUMPTION the r17 collapse carried:
    // in the uncollapsed form a copy pairs with its rep iff dot(v,v) >=
    // threshold — automatic at unit norm, false for a short vector. A
    // copy still rides the rep's component when it exists (byte-identical
    // vectors share every external edge), so only the no-edge case
    // branches: copies merge with an edge-less rep iff the self-pair
    // passes, else they stay singletons, exactly as the oracle pairs them.
    val repInfo = assignedReps
      .join(hot, Seq("cell"), "left")
      .select(col("__k"), col("vec_id").as("__rep"), col("cell"),
        coalesce(col("__hot"), lit(false)).as("__hot"),
        (graft.ann.Ann.dot(col("embedding"), col("embedding")) >= threshold)
          .as("__selfok"))
    keyed.select("vec_id", "__k")
      .join(repInfo, Seq("__k"))
      .join(labels, Seq("__rep"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__hot"), col("vec_id"))
          .when(col("label").isNotNull, col("label"))
          .when(col("__selfok"), col("__rep"))
          .otherwise(col("vec_id")).as("cluster"))
  }

  def dedupSemanticCcQuery(s: SparkSession, dir: String): DataFrame =
    semanticDedupClusters(Tables.embeddings(s, dir),
      graft.ann.Ann.trainIvfSized(s, dir))

  /** Literal-model oracle: cell CTEs + pair edges + the shared unrolled
    * propagation ([[propagationUnrollSql]] — same MATERIALIZED contract).
    */
  def dedupSemanticCcOracleFor(centroids: Seq[(Long, Array[Float])]): String = {
    val ctes = graft.ann.Ann.assignedSqlCte(centroids)
    s"""WITH $ctes,
       |elig AS (
       |  SELECT a.* FROM assigned a
       |  JOIN (SELECT cell FROM assigned GROUP BY cell
       |        HAVING COUNT(*) <= $MaxCellSize) ok ON ok.cell = a.cell),
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS nn_id
       |  FROM elig a JOIN elig b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
       |                         CAST(b.embedding AS DOUBLE[])) >= $SemThreshold),
       |edges AS MATERIALIZED (
       |  SELECT vec_id AS doc_id, CONCAT(nn_id, ',', vec_id) AS bkey FROM pairs
       |  UNION ALL
       |  SELECT nn_id AS doc_id, CONCAT(nn_id, ',', vec_id) AS bkey FROM pairs),
       |${propagationUnrollSql(CcIterations)}
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  COALESCE(l.label, a.vec_id) AS cluster
       |FROM assigned a LEFT JOIN l$CcIterations l ON l.doc_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Literal-model oracle (the ann_ivf trick): the trained centroids enter
    * as SQL literals, assignment/pairing/keep-first replayed relationally.
    * Generated at Verify time with the same (session, sfDir) — see
    * [[dynamicOracles]].
    */
  def dedupSemanticOracleFor(centroids: Seq[(Long, Array[Float])]): String = {
    val ctes = graft.ann.Ann.assignedSqlCte(centroids)
    s"""WITH $ctes,
       |elig AS (
       |  SELECT a.* FROM assigned a
       |  JOIN (SELECT cell FROM assigned GROUP BY cell
       |        HAVING COUNT(*) <= $MaxCellSize) ok ON ok.cell = a.cell),
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS nn_id,
       |    list_dot_product(CAST(a.embedding AS DOUBLE[]),
       |                     CAST(b.embedding AS DOUBLE[])) AS cosine
       |  FROM elig a JOIN elig b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id),
       |best AS (
       |  SELECT vec_id, nn_id, cosine AS nn_cos FROM (
       |    SELECT vec_id, nn_id, cosine,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |                         ORDER BY cosine DESC, nn_id) AS rn
       |    FROM pairs) t WHERE rn = 1)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, b.nn_id, b.nn_cos,
       |  COALESCE(b.nn_cos >= $SemThreshold, FALSE) AS is_semdup
       |FROM assigned a LEFT JOIN best b USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Data-dependent oracles (trained-model literals) — merged into the
    * Verify dump by SparkEntry.dynamicOracleSql, same contract as
    * graft.ann.Ann.dynamicOracles.
    */
  def dynamicOracles(s: SparkSession, dir: String,
                     wanted: String => Boolean = _ => true): Map[String, String] = {
    val names = Seq("dedup_semantic", "dedup_semantic_cc",
      "dedup_semantic_dense", "dedup_embedding").filter(wanted)
    if (names.isEmpty) Map.empty
    else {
      // one shared training run (deterministic — both see one model,
      // count-sized exactly like the query side); the dense variant
      // trains its own fixed-128 model, again shared with its query
      lazy val centroids = graft.ann.Ann.trainIvfSized(s, dir)
      lazy val dense = graft.ann.Ann.trainIvf(s, dir, nCells = DenseSemCells)
      names.map {
        case n @ "dedup_semantic" =>
          n -> dedupSemanticOracleFor(centroids)
        case n @ "dedup_semantic_cc" =>
          n -> dedupSemanticCcOracleFor(centroids)
        case n @ "dedup_semantic_dense" =>
          n -> dedupSemanticOracleFor(dense)
        case n @ "dedup_embedding" =>
          // same count → same width as the query side (embeddingLshBits)
          n -> dedupEmbeddingOracleFor(embeddingLshBits(s, dir))
      }.toMap
    }
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic"      -> ((s: SparkSession, d: String) => dedupSemanticQuery(s, d)),
    "dedup_semantic_cc"   -> ((s: SparkSession, d: String) => dedupSemanticCcQuery(s, d)),
    "dedup_semantic_dense" -> ((s: SparkSession, d: String) => dedupSemanticDenseQuery(s, d)),
    "dedup_exact"         -> ((s: SparkSession, d: String) => dedupExact(s, d)),
    "dedup_bloom"         -> ((s: SparkSession, d: String) => Bloom.dedupBloom(s, d)),
    "dedup_minhash"       -> ((s: SparkSession, d: String) => dedupMinhash(s, d)),
    "dedup_incremental"   -> ((s: SparkSession, d: String) => dedupIncrementalQuery(s, d)),
    "dedup_simhash"       -> ((s: SparkSession, d: String) => dedupSimhash(s, d)),
    "dedup_simhash_nn"    -> ((s: SparkSession, d: String) => dedupSimhashNn(s, d)),
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => dedupNgramJaccard(s, d)),
    "dedup_containment"   -> ((s: SparkSession, d: String) => dedupContainment(s, d)),
    "dedup_embedding"     -> ((s: SparkSession, d: String) => dedupEmbedding(s, d)),
    "dedup_span_cross"    -> ((s: SparkSession, d: String) =>
      crossDocSpans(Tables.documents(s, d))),
    "dedup_embedding_cc"  -> ((s: SparkSession, d: String) =>
      dedupEmbeddingClusters(Tables.embeddings(s, d))),
    "dedup_embedding_cc_exact" -> ((s: SparkSession, d: String) =>
      dedupEmbeddingClustersExact(Tables.embeddings(s, d))),
    "dedup_embedding_cc_dense" -> ((s: SparkSession, d: String) =>
      dedupEmbeddingClusters(Tables.embeddings(s, d), targetBucket = 16)))

  val oracles: Map[String, String] = Map(
    "dedup_exact"         -> dedupExactOracle,
    "dedup_bloom"         -> Bloom.dedupBloomOracle,
    "dedup_minhash"       -> dedupMinhashOracle,
    "dedup_incremental"   -> dedupIncrementalOracle,
    // dedup_embedding is oracled DYNAMICALLY (count-sized width inlined)
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    "dedup_containment"   -> dedupContainmentOracle,
    "dedup_simhash"       -> dedupSimhashOracle,
    "dedup_simhash_nn"    -> dedupSimhashNnOracle,
    "dedup_span_cross"    -> crossDocSpansOracle,
    "dedup_embedding_cc"  -> dedupEmbeddingClustersOracle,
    "dedup_embedding_cc_exact" -> dedupEmbeddingClustersExactOracle,
    "dedup_embedding_cc_dense" -> dedupEmbeddingClustersDenseOracle)
}
