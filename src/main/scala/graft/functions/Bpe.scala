package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.{GraftSession, Tables}

/** BPE (byte-pair-encoding) subword tokenization as a literal-model
  * operator — the real-token complement to the whitespace counters every
  * packing/budgeting operator defaults to. A training-data pipeline
  * budgets sequences in SUBWORD tokens; `seqPack`, `qualityBudget`, and
  * `docChunk` already accept an arbitrary token column, so the one
  * missing piece is a counter: `bpe_token_count(text)` — a native
  * Catalyst expression that applies a trained merge table in one
  * compiled call per row.
  *
  * Model handling follows the IVF pattern (Ann.scala ships Lloyd
  * centroids as literals): [[train]] learns the merge table from a
  * bounded, deterministic word-frequency aggregate (the ONLY collect is
  * the frequency table, capped at `vocabCap` distinct words — at 100 TB
  * the aggregate is a map-side-combined shuffle of word counts, not
  * text), and the registered queries ship [[DefaultMerges]], a table
  * trained once and checked in as source literals, so their DuckDB
  * oracles are STATIC SQL that replays the identical algorithm.
  *
  * Encoding semantics: merges apply in rank order, each rule one
  * left-to-right non-overlapping pass over the word's symbols (a merged
  * symbol is not reconsidered as the left element of the same rule).
  * For a table trained by this trainer, that is equivalent to the
  * classic iterative lowest-rank-first BPE encoding: rule j's pair
  * elements exist in the vocabulary before rule j, later merges only
  * create longer (later-ranked) symbols, and two standing symbols can
  * never become newly adjacent (merging absorbs a neighbor, never
  * deletes content between two survivors). Sequential application is
  * what a SQL engine can replay exactly — the oracle renders each rule
  * as one `replace` over a `||`-separated symbol string (double
  * separators so adjacent matches never share a boundary character),
  * which has the same one-pass left-to-right semantics.
  *
  * Scope: initial symbols are Unicode code points; oracle parity
  * additionally assumes the text contains no `|` (the oracle's symbol
  * separator) — true of the test corpus and checked by the spec.
  */
object Bpe {

  // ------------------------------------------------------------ encoding
  /** Total BPE token count of a whitespace-split text: words split on
    * single spaces exactly like `split(text, " ")` (empty segments count
    * zero tokens), each word encoded against `flat` = the merge table
    * flattened [a0,b0,a1,b1,…]. Symbols are (start,end) slices of the
    * word — merging is pointer arithmetic, no per-symbol allocation.
    *
    * This is the RULE-SWEEP encoder: O(merges × word length) per word —
    * exact at any table size but unaffordable at production vocab
    * (~32k merges ⇒ ~500× the 64-merge cost). The query path uses
    * [[BpeModel.wordTokens]] (pair-rank heap, cost independent of table
    * size); this sweep stays as the executable spec the property tests
    * hold the heap encoder to, and as the over-long-word fallback.
    */
  def tokenCount(s: UTF8String, flat: Array[String]): Int = {
    val str = s.toString
    val n = str.length
    var total = 0
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > ws) total += wordTokensSweep(str, ws, i, flat)
        ws = i + 1
      }
      i += 1
    }
    total
  }

  /** [[tokenCount]] against a compiled [[BpeModel]] — the production-vocab
    * path: per word O(len · (log len + log merges)) via lowest-rank-first
    * heap merging, instead of one sweep per rule.
    */
  def tokenCountFast(s: UTF8String, model: BpeModel): Int = {
    val str = s.toString
    val n = str.length
    var total = 0
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > ws) total += model.wordTokens(str, ws, i)
        ws = i + 1
      }
      i += 1
    }
    total
  }

  @inline private def symEquals(str: String, from: Int, until: Int,
                                rule: String): Boolean =
    rule.length == until - from && str.regionMatches(from, rule, 0, rule.length)

  /** Encoded symbol count of one word (`str[from, until)`). `starts` is
    * rebuilt in place per rule: reading index always ≥ writing index.
    */
  private[functions] def wordTokensSweep(str: String, from: Int, until: Int,
                                         flat: Array[String]): Int = {
    val len = until - from
    if (len <= 1) return len
    // initial symbols = code points (never split a surrogate pair)
    val starts = new Array[Int](len + 1)
    var count = 0
    var i = from
    while (i < until) {
      starts(count) = i; count += 1
      // 2-char step only over a REAL surrogate pair — an unpaired high
      // surrogate must stay its own symbol (codePointAt semantics), not
      // fuse with the following ordinary char
      i += (if (Character.isHighSurrogate(str.charAt(i)) && i + 1 < until &&
                Character.isLowSurrogate(str.charAt(i + 1))) 2 else 1)
    }
    starts(count) = until
    var r = 0
    while (r * 2 < flat.length && count > 1) {
      val a = flat(r * 2); val b = flat(r * 2 + 1)
      var out = 0
      var j = 0
      while (j < count) {
        if (j < count - 1 &&
            symEquals(str, starts(j), starts(j + 1), a) &&
            symEquals(str, starts(j + 1), starts(j + 2), b)) {
          // merged symbol = [starts(j), starts(j+2)); skipping j+1 makes
          // the next surviving start supply that end. j += 2: the merged
          // symbol is not re-matched as a left element this pass.
          starts(out) = starts(j); out += 1; j += 2
        } else {
          starts(out) = starts(j); out += 1; j += 1
        }
      }
      starts(out) = until
      count = out
      r += 1
    }
    count
  }

  /** Column API: BPE token count of a string column under `merges`. */
  def bpe_token_count(text: Column,
                      merges: Seq[(String, String)] = DefaultMerges): Column =
    GraftColumnBridge.column(BpeTokenCount(GraftColumnBridge.expression(text), merges))

  // ------------------------------------------------------------ training
  /** Learn `numMerges` BPE merge rules from a document column. The
    * corpus-side work is ONE exact word-frequency aggregation
    * (map-side-combined, shuffles (word, count) pairs — text never
    * moves); the driver trains on the top-`vocabCap` words by (count
    * desc, word asc), a bounded deterministic collect like IVF's Lloyd
    * sample. Ties in pair frequency break lexicographically, so the
    * learned table is bit-stable across partitionings and reruns.
    */
  def train(docs: DataFrame, textCol: Column, numMerges: Int,
            vocabCap: Int = 10000): Seq[(String, String)] = {
    val freq = docs
      .select(explode(split(textCol, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainLocal(freq.toSeq, numMerges)
  }

  /** The in-memory training loop (exposed for specs). */
  def trainLocal(wordFreq: Seq[(String, Long)],
                 numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = wordFreq.map { case (w, f) =>
      (codePointSyms(w), f)
    }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (counts.isEmpty) done = true
      else {
        val best = counts.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, f) => (applyMerge(syms, best), f) }
      }
    }
    merges.toSeq
  }

  private def codePointSyms(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One left-to-right non-overlapping pass — the same semantics the
    * encoder and the oracle's `replace` use, so training sees exactly the
    * word shapes encoding will produce.
    */
  private def applyMerge(syms: Array[String],
                         rule: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == rule._1 && syms(j + 1) == rule._2) {
        out += syms(j) + syms(j + 1); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  // ------------------------------------------------------- literal model
  /** The checked-in merge table the registered queries (and their static
    * oracles) share: 64 merges trained by [[train]] on
    * /root/testdata/sf0.01 documents (regenerate with
    * `runMain graft.functions.BpeTrainMain`).
    */
  val DefaultMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"),
    ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("d", "ata"), ("t", "able"),
    ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey"))

  // ------------------------------------------------------------- oracle
  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB expression: BPE symbol count of one word expression `w`
    * (assumed non-empty). Builds `||a||b||…||`, replays each merge as a
    * `replace`, then counts symbols from the separator count.
    */
  def countSqlExpr(w: String, merges: Seq[(String, String)]): String = {
    val base = s"'||' || array_to_string(string_split($w, ''), '||') || '||'"
    val chained = merges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, ${sqlQuote(s"|$a||$b|")}, ${sqlQuote(s"|${a + b}|")})"
    }
    s"len(string_split($chained, '||')) - 2"
  }

  /** Shared oracle CTEs: per-word counts → per-doc `n_tokens_bpe`. */
  private def bpeDocCte(merges: Seq[(String, String)]): String =
    s"""bpe_w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |bpe_c AS (SELECT doc_id,
       |    CASE WHEN w = '' THEN 0 ELSE ${countSqlExpr("w", merges)} END AS c
       |  FROM bpe_w),
       |bpe_t AS (SELECT doc_id, CAST(SUM(c) AS INT) AS n_tokens_bpe
       |  FROM bpe_c GROUP BY doc_id)""".stripMargin

  // ------------------------------------------------------------ queries
  /** C29 query: whitespace vs BPE token counts per document. */
  def textTokensBpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        bpe_token_count(col("text")).as("n_tokens_bpe"))
      .withColumn("tokens_per_word",
        col("n_tokens_bpe").cast("double") / col("n_tokens"))

  val textTokensBpeOracle: String =
    s"""WITH ${bpeDocCte(DefaultMerges)}
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
       |  t.n_tokens_bpe,
       |  CAST(t.n_tokens_bpe AS DOUBLE) / len(string_split(d.text, ' '))
       |    AS tokens_per_word
       |FROM documents d JOIN bpe_t t USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** C29b query: sequence packing budgeted in BPE tokens — the packing
    * operator unchanged, fed the subword counter instead of whitespace
    * counts (the exact composition a real pretraining layout needs).
    */
  def seqPackBpe(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Mix.seqPack(Tables.documents(s, dir),
        graft.pipeline.Mix.PackCapacity,
        tokens = bpe_token_count(col("text")),
        streamCol = col("source"), orderCol = col("doc_id"))
      .select("doc_id", "source", "n_tokens", "seq_id", "offset_in_seq")

  val seqPackBpeOracle: String =
    s"""WITH ${bpeDocCte(DefaultMerges)},
       |toks AS (
       |  SELECT d.doc_id, d.source, CAST(t.n_tokens_bpe AS BIGINT) AS n_tokens
       |  FROM documents d JOIN bpe_t t USING (doc_id))
       |""".stripMargin + graft.pipeline.Mix.packSql("toks")

  /** C29c query: budgeted quality selection in BPE tokens — `qualityBudget`
    * unchanged, fed the subword counter (4000-subword budget per source;
    * the whitespace twin budgets 3000 words). With seq_pack_bpe this
    * closes the loop: every token-budgeted operator runs on real tokens.
    */
  def qualityBudgetBpe(s: SparkSession, dir: String,
                       budget: Long = 4000L): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("__c", graft.functions.Text.tokenProfileCounts(
        col("text"), Seq(graft.functions.TextFuncs.stopwordsEn)))
    val nWords = col("__c").getItem(0)
    graft.pipeline.Curate.qualityBudget(d,
        quality = col("__c").getItem(1).cast("double") / nWords,
        tokens = bpe_token_count(col("text")),
        budget = budget, group = col("source"))
      .select("doc_id", "source", "n_tokens", "quality", "cum_tokens", "kept")
  }

  val qualityBudgetBpeOracle: String = {
    val inList = graft.functions.TextFuncs.stopwordsEnSqlList
    s"""WITH ${bpeDocCte(DefaultMerges)},
       |b AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(t.n_tokens_bpe AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(d.text, ' '),
       |      w -> w IN ($inList))) AS DOUBLE)
       |      / len(string_split(d.text, ' ')) AS quality
       |  FROM documents d JOIN bpe_t t USING (doc_id))
       |SELECT doc_id, source, n_tokens, quality, cum_tokens,
       |  cum_tokens <= 4000 AS kept
       |FROM (
       |  SELECT doc_id, source, n_tokens, quality,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM b) t
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens_bpe"    -> ((s: SparkSession, d: String) => textTokensBpe(s, d)),
    "seq_pack_bpe"       -> ((s: SparkSession, d: String) => seqPackBpe(s, d)),
    "quality_budget_bpe" -> ((s: SparkSession, d: String) => qualityBudgetBpe(s, d)))

  val oracles: Map[String, String] = Map(
    "text_tokens_bpe"    -> textTokensBpeOracle,
    "seq_pack_bpe"       -> seqPackBpeOracle,
    "quality_budget_bpe" -> qualityBudgetBpeOracle)
}

/** Compiled merge table for production-vocab BPE encoding: symbols are
  * interned to int ids, rules become a sorted (leftId,rightId) → (rank,
  * productId) lookup, and each word is encoded by lowest-rank-first heap
  * merging — per-word cost O(len · (log len + log merges)), INDEPENDENT
  * of table size, where the rule-sweep encoder pays O(merges × len) (a
  * 32k-merge production vocab would be ~500× the 64-merge sweep).
  *
  * Encoding equivalence: for tables produced by [[Bpe.trainLocal]],
  * lowest-rank-first merging (ties: leftmost occurrence first — exactly
  * the heap order (rank, position)) yields the same symbol count as the
  * sequential rank-order sweep: rule j's elements exist before rule j,
  * a merge only creates occurrences of later-ranked rules, and same-rank
  * occurrences are consumed left-to-right non-overlapping in both.
  * BpeSpec property-tests this against [[Bpe.tokenCount]] on randomly
  * trained tables; words ≥ 2^20 chars (heap entries would overflow their
  * packed position field) fall back to the sweep.
  */
final class BpeModel(merges: Seq[(String, String)]) extends Serializable {

  /** Flattened table for the sweep fallback / reference. */
  val flat: Array[String] =
    merges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray

  // ---- symbol interning: rule elements + products, first-appearance ids
  @transient private lazy val state: (java.util.HashMap[Integer, Integer],
                                      Array[Long], Array[Int], Array[Int]) = {
    val ids = new java.util.HashMap[String, Integer]()
    def idOf(s: String): Int = {
      var v = ids.get(s)
      if (v == null) { v = ids.size(); ids.put(s, v) }
      v.intValue()
    }
    val seen = new java.util.HashMap[java.lang.Long, Integer]()
    val keys = new Array[Long](merges.length)
    val rank = new Array[Int](merges.length)
    val prod = new Array[Int](merges.length)
    var m = 0
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      val key = (idOf(a).toLong << 32) | (idOf(b).toLong & 0xffffffffL)
      // duplicate pair (never emitted by the trainer): first rank wins,
      // matching the sweep where the earlier pass consumes the pair
      if (seen.get(key) == null) {
        seen.put(key, r)
        keys(m) = key; rank(m) = r; prod(m) = idOf(a + b); m += 1
      }
    }
    // sort the pair table by key for allocation-free binary search
    val order = Array.range(0, m).sortBy(keys(_))
    val sk = order.map(keys(_)); val sr = order.map(rank(_))
    val sp = order.map(prod(_))
    // initial word symbols are single code points — intern those straight
    // from the code point so encoding never allocates lookup strings
    val cps = new java.util.HashMap[Integer, Integer]()
    ids.forEach { (s, id) =>
      if (s.codePointCount(0, s.length) == 1)
        cps.put(s.codePointAt(0), id)
    }
    (cps, sk, sr, sp)
  }

  /** index into the sorted pair table, or -1 */
  private def pairSlot(a: Int, b: Int): Int = {
    if (a < 0 || b < 0) return -1
    val key = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    java.util.Arrays.binarySearch(state._2, key)
  }

  /** Encoded symbol count of one word (`str[from, until)`). */
  def wordTokens(str: String, from: Int, until: Int): Int = {
    val len = until - from
    if (len <= 1) return len
    if (len >= (1 << 20)) return Bpe.wordTokensSweep(str, from, until, flat)
    val (cps, _, ranks, prods) = state
    // initial symbols = code points
    val sym = new Array[Int](len)
    var count = 0
    var i = from
    while (i < until) {
      val cp = str.codePointAt(i)
      val id = cps.get(cp)
      sym(count) = if (id == null) -1 else id.intValue()
      count += 1
      i += Character.charCount(cp)
    }
    if (count <= 1) return count
    val m = count
    // doubly-linked symbol list + lazy-validation min-heap of candidate
    // merges: entry long = rank<<40 | leftPos<<20 | serial, so the heap
    // order IS (rank asc, leftmost first); side arrays hold what the
    // entry expects to find (right pos + both symbol ids) — a pop whose
    // expectation no longer holds is stale and discarded
    val nxt = new Array[Int](m); val prv = new Array[Int](m)
    val alive = new Array[Boolean](m)
    var j = 0
    while (j < m) { nxt(j) = j + 1; prv(j) = j - 1; alive(j) = true; j += 1 }
    var heap = new Array[Long](m * 2)
    var heapN = 0
    var eJ = new Array[Int](m * 2); var eSi = new Array[Int](m * 2)
    var eSj = new Array[Int](m * 2); var eProd = new Array[Int](m * 2)
    var eRank = new Array[Int](m * 2)
    var serial = 0
    def push(rank: Int, i0: Int, j0: Int, prod: Int): Unit = {
      if (serial >= eJ.length) {
        eJ = java.util.Arrays.copyOf(eJ, serial * 2)
        eSi = java.util.Arrays.copyOf(eSi, serial * 2)
        eSj = java.util.Arrays.copyOf(eSj, serial * 2)
        eProd = java.util.Arrays.copyOf(eProd, serial * 2)
        eRank = java.util.Arrays.copyOf(eRank, serial * 2)
      }
      eJ(serial) = j0; eSi(serial) = sym(i0); eSj(serial) = sym(j0)
      eProd(serial) = prod; eRank(serial) = rank
      if (heapN >= heap.length) heap = java.util.Arrays.copyOf(heap, heapN * 2)
      var c = heapN
      heap(c) = (rank.toLong << 40) | (i0.toLong << 20) | serial.toLong
      heapN += 1; serial += 1
      while (c > 0 && heap((c - 1) / 2) > heap(c)) {
        val p = (c - 1) / 2
        val t = heap(p); heap(p) = heap(c); heap(c) = t; c = p
      }
    }
    def tryPush(i0: Int, j0: Int): Unit = {
      val slot = pairSlot(sym(i0), sym(j0))
      if (slot >= 0) push(ranks(slot), i0, j0, prods(slot))
    }
    j = 0
    while (j < m - 1) { tryPush(j, j + 1); j += 1 }
    while (heapN > 0 && count > 1) {
      val top = heap(0)
      heapN -= 1
      heap(0) = heap(heapN)
      var c = 0
      var continueSift = true
      while (continueSift) {
        val l = 2 * c + 1; val r = l + 1
        var s = c
        if (l < heapN && heap(l) < heap(s)) s = l
        if (r < heapN && heap(r) < heap(s)) s = r
        if (s == c) continueSift = false
        else { val t = heap(s); heap(s) = heap(c); heap(c) = t; c = s }
      }
      val sId = (top & 0xfffffL).toInt
      val li = ((top >> 20) & 0xfffffL).toInt
      val ri = eJ(sId)
      if (alive(li) && alive(ri) && nxt(li) == ri &&
          sym(li) == eSi(sId) && sym(ri) == eSj(sId)) {
        sym(li) = eProd(sId)
        alive(ri) = false
        val rn = nxt(ri)
        nxt(li) = rn
        if (rn < m) prv(rn) = li
        count -= 1
        if (prv(li) >= 0) tryPush(prv(li), li)
        if (rn < m) tryPush(li, rn)
      }
    }
    count
  }
}

/** Native expression: BPE token count of `child` under a fixed merge
  * table — tokenize, encode, and count in ONE compiled call per row
  * inside the whole-stage-codegen span (the merge table rides along as a
  * codegen reference object, resolved once per task, not per row).
  */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    SketchTypeCheck.check("graft_bpe_token_count", child.dataType,
      "merges" -> merges.length)

  @transient private lazy val model = new BpeModel(merges)

  def countOf(s: UTF8String): Int = Bpe.tokenCountFast(s, model)

  override def nullSafeEval(input: Any): Any =
    countOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countOf($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** Dev main: (re)train [[Bpe.DefaultMerges]] and print it as Scala
  * literals — `runMain graft.functions.BpeTrainMain [sfDir] [numMerges]`.
  */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.local(4, "ERROR")
    val merges = Bpe.train(Tables.documents(spark, dir), col("text"), n)
    println(merges.map { case (a, b) => s"""("$a", "$b")""" }
      .grouped(4).map(_.mkString(", ")).mkString(",\n    "))
    spark.stop()
  }
}
