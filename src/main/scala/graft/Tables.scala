package graft

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Plain parquet reads: Spark's DataSource v2 parquet scan gives predicate
  * pushdown, column pruning and vectorized decode for free — every operator
  * in this library builds a declarative plan on top of these.
  *
  * Each table path resolves once per session and file state: the first
  * load infers the schema (a one-task Spark job) and the first fanned-out
  * load decides the fan-out; later loads of an unchanged table reuse both
  * and only re-list the path (see [[Resolution]]).
  */
object Tables {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    resolve(spark, s"$dir/$name.parquet")._1

  /** What a table path resolved to, valid while `state` holds. */
  private final case class Resolution(state: FileState, schema: StructType,
                                      fansOut: Option[Boolean])

  /** Everything schema inference and the fan-out verdict read: the leaf
    * files (path, length, modification time) of one listing, the
    * session's conf (parquet type mapping, split sizing) and the
    * parallelism the verdict targets.
    */
  private final case class FileState(files: Seq[(String, Long, Long)],
                                     conf: Map[String, String],
                                     parallelism: Int)

  // One entry per (session, path); weak-keyed so sessions are not pinned
  // (the GraftCatalog.registries pattern).
  private val resolutions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, TrieMap[String, Resolution]]())

  private def resolutionsOf(s: SparkSession): TrieMap[String, Resolution] =
    resolutions.synchronized {
      var r = resolutions.get(s)
      if (r == null) {
        r = TrieMap.empty[String, Resolution]
        resolutions.put(s, r)
      }
      r
    }

  private def fileState(s: SparkSession, path: String): Option[FileState] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      def leaves(st: FileStatus): Seq[(String, Long, Long)] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      Some(FileState(fs.listStatus(p).toSeq.flatMap(leaves).sorted,
        s.conf.getAll, s.sparkContext.defaultParallelism))
    } catch {
      // unlistable: the uncached read below raises the error it always did
      case NonFatal(_) => None
    }

  /** A fresh DataFrame over `path` (distinct attribute ids on every call,
    * so self-joins resolve) plus the resolution it came from. An
    * unchanged file state reads with the recorded schema — no inference
    * job; a changed one re-infers and replaces the entry.
    */
  private def resolve(s: SparkSession, path: String)
      : (DataFrame, Option[Resolution]) =
    fileState(s, path) match {
      case None => (s.read.parquet(path), None)
      case Some(state) =>
        val cache = resolutionsOf(s)
        cache.get(path).filter(_.state == state) match {
          case Some(r) => (s.read.schema(r.schema).parquet(path), Some(r))
          case None =>
            val df = s.read.parquet(path)
            val r = Resolution(state, df.schema, None)
            cache.put(path, r)
            (df, Some(r))
        }
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  =
    fanOutFor(s, d, "lineitem", Seq("l_orderkey"))

  /** Opt-in fan-out for operators whose PER-ROW work is heavy enough to
    * out-cost the shuffle (JSON parsing, codecs) over a table that
    * doesn't fan out by default — same decision rule as the table-level
    * wrapping, caller-chosen. The table-level loaders go through here
    * too: the verdict is recorded with the table's [[Resolution]], so an
    * unchanged table pays neither `df.rdd` planning nor footer reads.
    */
  private[graft] def fanOutFor(s: SparkSession, d: String, name: String,
                               keys: Seq[String] = Nil): DataFrame = {
    val path = s"$d/$name.parquet"
    val (df, res) = resolve(s, path)
    val fan = res.flatMap(_.fansOut).getOrElse {
      val v = fansOut(s, df)
      res.foreach(r => resolutionsOf(s).replace(path, r, r.copy(fansOut = Some(v))))
      v
    }
    val target = s.sparkContext.defaultParallelism
    if (!fan) df
    // Deterministic-key hash fan-out beats the keyless round-robin
    // when the table has a natural key: RoundRobinPartitioning pays a
    // local sort of its entire input for retry determinism
    // (spark.sql.execution.sortBeforeRepartition, guide §2.5) while a
    // hash of real key columns is retry-deterministic for free — the
    // r20 FanoutProbe (source in commit `ac52568`) measured the
    // lineitem exchange at 0.88 s round-robin vs 0.60 s keyed (narrow
    // consumer) and 1.43 vs 0.84 s (wide). Keying lineitem on l_orderkey additionally makes
    // the fan-out exchange SATISFY downstream ClusteredDistribution
    // requirements on the same key (guide §2.4): lineitem⋈orders
    // joins and l_orderkey aggregates reuse this exchange instead of
    // planning a second fact shuffle. Keys stay uniform (≤7 lines per
    // order; doc/vec ids unique), so no §2.5 collision skew.
    else if (keys.nonEmpty) df.repartition(target, keys.map(col): _*)
    else df.repartition(target)
  }

  /** Whether an under-split scan should fan out to the session's
    * parallelism.
    *
    * Parquet splits only at row-group boundaries, so a single-row-group
    * file (the shape of the driver-generated testdata) scans as ONE task —
    * and every per-row sketch/aggregation stage fused above it runs
    * single-threaded no matter how many cores the session has. When the
    * scan already has enough splits (the 100 TB case: thousands of files),
    * this is the identity — no shuffle is ever added at scale; the
    * round-robin repartition only fires for degenerate low-split inputs,
    * and filters/projections still push through it into the scan.
    *
    * HAZARD: scan-stage metadata functions do not survive the fan-out
    * shuffle — `input_file_name()` evaluates to "" above a repartition.
    * Any file-inventory consumer must read via [[load]] raw, never
    * through a fanned-out table (see dbaDescribeDetail).
    *
    * The split decision: file count first (`inputFiles`, a FileIndex
    * lookup — cheap, and ≥4 files always split), then, for few-file
    * inputs only, actual ROW-GROUP count from the parquet footers. File
    * count alone under-counts splits for multi-row-group single files —
    * exactly the regenerated sf1-equiv layout (6M rows, ONE file, six
    * row groups), where the old heuristic round-robin-shuffled the
    * entire fact before every aggregate: a data-proportional exchange
    * that was the round-11 q18 decade regression (2.5 → 5.7 s with zero
    * code change — the data's file layout changed under the heuristic).
    * Row groups are parquet's real unit of scan parallelism: Spark's
    * byte-range splits assign each row group to the task holding its
    * midpoint, so a 1-file/6-row-group input scans 6-way natively and
    * needs no shuffle, while a 1-row-group file scans 1-way no matter
    * how many byte ranges it splits into — and still needs the fan-out.
    * The footer reads are driver-side metadata (≤3 files × ~ms) and only
    * happen on the few-file path.
    */
  private def fansOut(s: SparkSession, df: DataFrame): Boolean = {
    val target = s.sparkContext.defaultParallelism
    val need = math.min(4, target)
    val files = df.inputFiles
    if (files.length >= need) false
    else {
      // Effective scan parallelism is min(byte-range splits, row groups):
      // row groups beyond the split count share a task (Spark assigns
      // each row group to the split holding its midpoint), and splits
      // beyond the row-group count are empty. A SMALL multi-row-group
      // file is the trap this guards: 10 row groups in 6 MB pass a
      // row-group-only check, but `openCostInBytes` floors the split
      // size at 4 MB, so the scan really runs ~2-way — the r16
      // weak-scaling sf1-equiv regeneration flipped exactly this and
      // silently serialized every heavy-text query that relied on the
      // fan-out (text_pii_scrub 1.1 → 4.7 s with zero code change).
      // getNumPartitions is plan-time metadata — no job runs.
      val splits = df.rdd.getNumPartitions
      val effective = math.min(splits, rowGroupCount(s, files, need))
      if (effective >= need) false
      // within one of the target: the exchange would buy ONE extra way
      // at the cost of a full-table round trip — never worth it. The
      // `effective >= 2` guard keeps a genuinely 1-way scan falling
      // through to the repartition even when defaultParallelism == 2
      // (there need == 2 and 1 >= need - 1 would otherwise hold).
      else if (effective >= 2 && effective >= need - 1) false
      // already-parallel LARGE scan (e.g. one ~300 MB file: ≥2 byte-range
      // splits under maxPartitionBytes): a round-robin here is the exact
      // data-proportional exchange this gate exists to avoid; only
      // genuinely serialized (1-way) or small inputs fall through to the
      // shuffle, whose cost is then bounded by the small input
      else if (effective >= 2 && totalBytes(s, files) >= LargeInputBytes) false
      else true
    }
  }

  /** Above this size an under-split input keeps its native splits rather
    * than round-robin-shuffling: the exchange moves the whole table, and
    * a ≥2-way scan of this size amortizes per-task overheads already.
    */
  private val LargeInputBytes: Long = 256L * 1024 * 1024

  private def totalBytes(s: SparkSession, files: Array[String]): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    files.map { f =>
      try {
        val p = new Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      } catch {
        case NonFatal(e) =>
          log.warn(s"no length for $f, counting 0 bytes: $e")
          0L
      }
    }.sum
  }

  /** Total row groups across `files`, short-circuiting once `enough` is
    * reached; any footer trouble counts the file as one group
    * (conservative: under-counting only risks a redundant repartition).
    */
  private def rowGroupCount(s: SparkSession, files: Array[String],
                            enough: Int): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    var total = 0
    val it = files.iterator
    while (it.hasNext && total < enough) {
      val f = it.next()
      total += (try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(f), conf))
        try r.getFooter.getBlocks.size finally r.close()
      } catch {
        case NonFatal(e) =>
          log.warn(s"no footer for $f, counting one row group: $e")
          1
      })
    }
    total
  }
  /** `events.ts` has shipped in three physical parquet encodings across
    * testdata generations; normalize all of them to one invariant schema —
    * `ts_ns` LONG (nanos since epoch, for bit-stable cross-engine
    * order/compare) + `ts` TIMESTAMP (session-zoned, for time arithmetic):
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; sessions
    *    set `spark.sql.legacy.parquet.nanosAsLong` so it arrives as a
    *    nanos-since-epoch LONG. `ts` is the µs truncation.
    *  - TIMESTAMP(MICROS, adjustedToUTC=true): loads as TIMESTAMP;
    *    `unix_micros` is exact.
    *  - TIMESTAMP(MICROS, adjustedToUTC=false): loads as TIMESTAMP_NTZ —
    *    a wall-clock datetime with no zone, which `unix_micros` rejects.
    *    Sessions pin `spark.sql.session.timeZone=UTC`, so the cast to
    *    session-zoned TIMESTAMP is value-preserving and the resulting
    *    `ts_ns` is identical to what the same instants yield under the
    *    other two encodings (oracle parity: DuckDB's `epoch_ns(ts)` on µs
    *    data = `unix_micros*1000`).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // NOT fanned out by default: the events consumers are almost all
    // cheap aggregations where the round-2 finding holds (shuffle
    // round-trip > parallelism gain — re-measured r12: a blanket
    // fan-out cost +0.2–0.35 s on each of five cheap events queries at
    // sf0.1). Heavy per-row stages pre-aggregate instead
    // (dba_json_ingest parses one payload per DISTINCT value since r16);
    // the remaining [[fanOutFor]] opt-in is qCube's Expand over orders.
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  /** History of the fan-out decision: round 1 measured a blanket
    * repartition of these tables as SLOWER for the cheap projection-only
    * queries (shuffle round-trip > parallelism gain). That held until the
    * heavy aggregation stages landed: minhash signatures (64 hash-min aggs
    * over ~10² shingles/doc) and decimal pricing aggs run *inside the scan
    * stage*, so a 1-split scan serializes them on one core — re-measured in
    * round 2 at sf0.1, fanning out cut dedup_minhash from ~8 s to ~2 s and
    * q1 from ~8.7 s to ~2 s. `fanOut` is the compromise: identity whenever
    * the scan has real splits (any production layout), round-robin only for
    * degenerate single-split inputs.
    */
  // documents moved to the deterministic doc_id hash fan-out in r21. The
  // r20 A/B had measured keyed ≈ round-robin on simple consumers and kept
  // round-robin for its exact row balance — but it never probed the
  // consumer shape that DOMINATES the text family: a (doc_id, gram/term)
  // aggregation, whose ClusteredDistribution is satisfied by
  // HashPartitioning(doc_id) (partition keys ⊆ grouping keys), so the
  // keyed fan-out exchange is REUSED and the pair-sized exchange above it
  // disappears (guide §2.4). The r21 FanoutProbe (source in commit
  // `ac52568`) measured the pair-group consumer at 0.27 s keyed vs
  // 0.58 s round-robin (2.1×, two passes), while the heavy per-row
  // kernel shape (the codec/decade canaries whose stage wall is
  // max-per-partition work) measured a wash — hash balance
  // over unique doc_ids is statistically exact at any realistic n. Same
  // scale posture as lineitem/embeddings: identity on any ≥4-split
  // production layout, key column is one delta-encoded int64 locally.
  def documents(s: SparkSession, d: String): DataFrame =
    fanOutFor(s, d, "documents", Seq("doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    fanOutFor(s, d, "embeddings", Seq("vec_id"))
}
