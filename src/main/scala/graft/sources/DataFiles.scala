package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The DATA-FILE half of a table format, written once for DeltaLite and
  * IcebergLite: staging a write into renamed data files, the per-file
  * parquet-footer min/max fold, the key-comparison domain those bounds
  * are compared in, and the file pruning built on it (`readWhere` range
  * overlap, merge/delete key intersection, partition-value equality).
  * Each format keeps only its ENCODING of these values — Delta the
  * `add.stats` JSON and `partitionValues`, Iceberg the little-endian
  * single-value manifest bounds and typed partition records — and hands
  * the decoded values back here, so a pruning decision cannot differ
  * between the formats for the same layout.
  *
  * Comparison domain, keyed on the column's Spark type ([[prunable]]):
  * strings compare as UTF-8 bytes ([[Utf8Bytes]]), FLOAT and DOUBLE as
  * IEEE doubles (a float — recorded bound or query value — widens
  * exactly, so a `0.3f` bound is the double the residual `col >= x`
  * filter compares, not the decimal 0.3), integral types as BigDecimal.
  * Every other type, and every file without a recorded bound, scans
  * conservatively: pruning is never a correctness dependency.
  */
object DataFiles {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What a pruned read scanned: the DataFrame plus the file economics
    * (`filesSkipped` is the I/O a naive full scan would have paid — on a
    * range/Z-ORDER-clustered table nearly all of it).
    */
  final case class SkippingScan(df: DataFrame, filesScanned: Int,
                                filesSkipped: Int)

  // ------------------------------------------------- comparison domain

  /** UTF-8 bytes under unsigned lexicographic order — the order parquet
    * stats, Iceberg bound truncation and Spark's binary string comparison
    * agree on. Java String.compareTo (UTF-16 code units) diverges for
    * supplementary-plane characters, so string bounds compare HERE.
    */
  private[graft] final class Utf8Bytes(val bytes: Array[Byte])
      extends Comparable[Utf8Bytes] {
    def compareTo(o: Utf8Bytes): Int = {
      val n = math.min(bytes.length, o.bytes.length)
      var i = 0
      while (i < n) {
        val c = (bytes(i) & 0xFF) - (o.bytes(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      bytes.length - o.bytes.length
    }
    override def toString: String = new String(bytes, StandardCharsets.UTF_8)
  }

  private type Key = Comparable[Any]

  /** Key types whose bounds prune; anything else scans every file. */
  private[graft] def prunable(dt: DataType): Boolean = dt match {
    case StringType | FloatType | DoubleType |
         ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `x` — a query bound, a batch key, or a recorded bound already
    * decoded from a format's encoding (a JVM number, a [[Utf8Bytes]], or
    * its text) — in `dt`'s comparison domain. Only called for
    * [[prunable]] types. Float text parses AS A FLOAT before widening,
    * which is what a FLOAT column's recorded "0.3" means; -0.0 folds
    * into 0.0, which Spark's comparison treats as equal.
    */
  private[graft] def key(dt: DataType, x: Any): Comparable[Any] = ((dt, x) match {
    case (StringType, u: Utf8Bytes) => u
    case (StringType, _) =>
      new Utf8Bytes(x.toString.getBytes(StandardCharsets.UTF_8))
    case (FloatType | DoubleType, _) =>
      val d = x match {
        case n: java.lang.Number => n.doubleValue()
        case _ if dt == FloatType => x.toString.toFloat.toDouble
        case _ => x.toString.toDouble
      }
      java.lang.Double.valueOf(if (d == 0.0) 0.0 else d)
    case _ => new java.math.BigDecimal(x.toString)
  }).asInstanceOf[Key]

  // ------------------------------------------------ footer min/max fold

  /** One data file's footer statistics: the record count, and [min, max]
    * per top-level column in first-seen order — `Integer`/`Long`/
    * `Float`/`Double`/`Boolean` for unannotated primitives, [[Utf8Bytes]]
    * for string-annotated binaries. Every other column (raw binary,
    * decimal, date, timestamp, nested) is absent: skipped rather than
    * mis-ranged.
    */
  private[graft] final case class FooterStats(
      numRecords: Long, bounds: Seq[(String, (Any, Any))])

  /** Fold `p`'s parquet footer (driver-side, metadata only: one open,
    * no data pages) into [[FooterStats]], across every row group; strings
    * fold in UTF-8 byte order. A file whose footer cannot be read yields
    * None with a warning naming the file and the error — no stats, never
    * a failed commit.
    */
  private[graft] def footerStats(conf: Configuration,
                                 p: Path): Option[FooterStats] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        import org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Key, Key)]
        for (b <- blocks; c <- b.getColumns.asScala) {
          val parts = c.getPath.toArray
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            c.getStatistics
          if (parts.length == 1 && st != null && !st.isEmpty &&
              st.hasNonNullValue) {
            val logical = c.getPrimitiveType.getLogicalTypeAnnotation
            val isString = logical.isInstanceOf[StringLogicalTypeAnnotation]
            // a RAW binary column also has a null annotation: its bytes
            // must not round-trip through UTF-8 into string bounds
            def v(x: Any): Option[Key] = (x match {
              case bin: org.apache.parquet.io.api.Binary =>
                if (isString) Some(new Utf8Bytes(bin.getBytes)) else None
              case other => if (logical == null) Some(other) else None
            }).map(_.asInstanceOf[Key])
            for (mn <- v(st.genericGetMin(): Any);
                 mx <- v(st.genericGetMax(): Any)) {
              acc(parts(0)) = acc.get(parts(0)) match {
                case Some((lo, hi)) =>
                  (if (mn.compareTo(lo) < 0) mn else lo,
                    if (mx.compareTo(hi) > 0) mx else hi)
                case None => (mn, mx)
              }
            }
          }
        }
        Some(FooterStats(blocks.map(_.getRowCount).sum, acc.toSeq))
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"no footer stats for $p: $e")
        None
    }

  // ------------------------------------------------------------ staging

  /** One staged part after its rename: path relative to the table root,
    * size, the hive directory it came from decoded into key→value
    * ([[HivePaths]]; empty when unpartitioned), and its footer stats.
    */
  private[graft] final case class StagedFile(
      rel: String, size: Long, partition: Map[String, String],
      stats: Option[FooterStats])

  /** Write `df` as parquet under `root/.staging-<stageId>` (hive layout
    * on `partitionBy`), then move every part to `name(index, relDir)`
    * relative to `root`, reading each file's size and footer as it lands,
    * and drop the staging dir. Parts are ordered by (dir, name) — Spark
    * partition order — so names and row-id assignment never depend on
    * the file system's listing order.
    */
  private[graft] def stage(spark: SparkSession, root: Path, df: DataFrame,
                           stageId: String, partitionBy: Seq[String])
                          (name: (Int, String) => String): Seq[StagedFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = root.getFileSystem(conf)
    val staging = new Path(root, s".staging-$stageId")
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(staging.toString)
    def leaves(dir: Path, rel: String): Seq[(Path, String)] =
      f.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.contains("="))
          leaves(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
        else if (n.startsWith("part-") && n.endsWith(".parquet"))
          Seq((st.getPath, rel))
        else Nil
      }
    val staged = leaves(staging, "").sortBy { case (p, relDir) =>
      (relDir, p.getName)
    }.zipWithIndex.map { case ((p, relDir), i) =>
      val rel = name(i, relDir)
      val target = new Path(root, rel)
      f.mkdirs(target.getParent)
      require(f.rename(p, target), s"rename failed: $p")
      val partition = relDir.split("/").filter(_.nonEmpty).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> HivePaths.unescape(v)
      }.toMap
      StagedFile(rel, f.getFileStatus(target).getLen, partition,
        footerStats(conf, target))
    }
    f.delete(staging, true)
    staged
  }

  // ------------------------------------------------------------ pruning

  /** Driver-collect bound for key pruning: past this many distinct
    * first-key values, selectiveMerge/selectiveDelete skip pruning
    * (correct, just unpruned) rather than collect unboundedly. ~4M keys
    * ≈ tens of MB of driver heap — the CDC-batch shape with headroom.
    */
  private[graft] val DefaultMaxPruneKeys: Int = 4 << 20

  /** The batch's distinct non-null `keyCol` values, collected through a
    * `limit(max + 1)` so at most max+1 rows EVER reach the driver; None
    * when the batch exceeds the bound (the caller falls back to the
    * unpruned path). Null keys never equi-join an existing row, so they
    * never drive a prune.
    */
  private[graft] def boundedKeys(batch: DataFrame, keyCol: String,
                                 maxPruneKeys: Int): Option[Array[Row]] = {
    require(maxPruneKeys > 0, s"maxPruneKeys must be positive: $maxPruneKeys")
    val rows = batch.select(keyCol).na.drop().distinct()
      .limit(maxPruneKeys + 1).collect()
    if (rows.length > maxPruneKeys) None else Some(rows)
  }

  /** Split `files` into (recorded [min, max] holds at least one of the
    * batch's `keys`, holds none) — one binary search over the sorted keys
    * per file, so a 10⁶-key CDC batch over 10⁴ files stays driver-cheap.
    */
  private[graft] def keyPrune[F](files: Seq[F], dt: DataType,
                                 keys: Array[Row])
                                (bounds: F => Option[(Any, Any)])
      : (Seq[F], Seq[F]) =
    if (!prunable(dt)) (files, Nil)
    else {
      val sorted = keys.map(r => key(dt, r.get(0))).sortWith(_.compareTo(_) < 0)
      files.partition(fi => bounds(fi).forall { case (mn, mx) =>
        val lo = key(dt, mn)
        // first key ≥ lo, then check ≤ hi
        var l = 0; var r = sorted.length
        while (l < r) {
          val m = (l + r) >>> 1
          if (lo.compareTo(sorted(m)) > 0) l = m + 1 else r = m
        }
        l < sorted.length && key(dt, mx).compareTo(sorted(l)) >= 0
      })
    }

  /** Partition-value equality prune: a file survives iff, for every
    * (partition field, admitted values) pair, its recorded value is
    * admitted. An unknown or null value keeps the file.
    */
  private[graft] def partitionPrune[F](files: Seq[F],
                                       admitted: Seq[(String, Set[String])])
                                      (value: (F, String) => Option[String])
      : (Seq[F], Seq[F]) =
    files.partition(fi => admitted.forall { case (field, vs) =>
      value(fi, field).forall(vs.contains)
    })

  /** The distinct batch keys as partition-value strings. */
  private[graft] def keyStrings(keys: Array[Row]): Set[String] =
    keys.map(r => String.valueOf(r.get(0))).toSet

  // ------------------------------------------------------- merge source

  /** Row bound for holding a MERGE or key-DELETE source on the driver
    * ([[keySource]]). Sized for driver heap, not for the key bound: 65 536
    * rows of a CDC batch are a few MB, where [[DefaultMaxPruneKeys]] keys
    * of one column are tens of MB.
    */
  private[graft] val LocalSourceRows: Int = 1 << 16

  /** Key types whose set membership is exactly join equality. Floating
    * keys are out: a join normalizes -0.0 and NaN, set membership does
    * not. So are binary (array identity), decimal and every nested type.
    */
  private def exactKey(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A MERGE or key-DELETE source as a rewrite consumes it: `df` is the
    * source rows, `local` the same rows when they were read onto the
    * driver ([[keySource]]), so pruning, the target-side key predicate and
    * the winner window all come from one read.
    */
  private[graft] final case class KeySource(df: DataFrame, keys: Seq[String],
                                            local: Option[Array[Row]]) {

    /** Distinct non-null values of `c` as one-column rows, for
      * [[keyPrune]] / [[partitionPrune]]: from the local rows, else
      * through [[boundedKeys]] (None past `maxPruneKeys`).
      */
    def pruneKeys(c: String, maxPruneKeys: Int): Option[Array[Row]] =
      local match {
        case Some(rows) =>
          val i = df.schema.fieldIndex(c)
          Some(rows.iterator.map(_.get(i)).filter(_ != null).distinct
            .map(Row(_)).toArray)
        case None => boundedKeys(df, c, maxPruneKeys)
      }

    /** Over `targetKeys` (the target's columns for [[keys]], in order):
      * true for a row whose key no source row carries — the target rows
      * a MERGE keeps, and the complement of a DELETE's victims. A key
      * with a null component never equi-matches, so such rows are kept
      * and such source keys are left out of the set. None for a source
      * that was not read onto the driver: the caller joins instead.
      */
    def unmatched(targetKeys: Seq[Column]): Option[Column] = local.map { rows =>
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InSet}
      val idx = keys.map(df.schema.fieldIndex)
      val conv = idx.map(i =>
        CatalystTypeConverters.createToCatalystConverter(df.schema(i).dataType))
      val set: Set[Any] = rows.iterator
        .map(r => idx.map(r.get))
        .filter(_.forall(_ != null))
        .map(vs => vs.zip(conv).map { case (v, c) => c(v) })
        .map(vs => if (vs.size == 1) vs.head else new GenericInternalRow(vs.toArray))
        .toSet
      val probe =
        if (targetKeys.size == 1) targetKeys.head
        else org.apache.spark.sql.functions.struct(targetKeys: _*)
      val member = org.apache.spark.sql.GraftColumnBridge.column(
        InSet(org.apache.spark.sql.GraftColumnBridge.expression(probe), set))
      targetKeys.map(_.isNull).reduce(_ || _) || !member
    }
  }

  /** Read `src` onto the driver when it holds at most
    * `min(maxPruneKeys, LocalSourceRows)` rows and every key column has
    * an [[exactKey]] type, the same in `src` and in the `target` schema:
    * one job, `limit(bound + 1)`, labelled `label`. Otherwise the source
    * stays distributed and the caller runs its join plan; a source over
    * the bound has then paid that one probe job.
    */
  private[graft] def keySource(spark: SparkSession, src: DataFrame,
                               keys: Seq[String], target: StructType,
                               maxPruneKeys: Int, label: String): KeySource = {
    require(maxPruneKeys > 0, s"maxPruneKeys must be positive: $maxPruneKeys")
    def typeIn(st: StructType, k: String) = st.find(_.name == k).map(_.dataType)
    val eligible = keys.nonEmpty && keys.forall(k =>
      typeIn(src.schema, k).exists(dt =>
        exactKey(dt) && typeIn(target, k).contains(dt)))
    val bound = math.min(maxPruneKeys, LocalSourceRows)
    val local =
      if (!eligible) None
      else Some(labelled(spark, label)(src.limit(bound + 1).collect()))
        .filter(_.length <= bound)
    KeySource(local.fold(src)(rows =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), src.schema)
        .coalesce(1)), keys, local)
  }

  /** Run `body` with its Spark jobs described as `label` (the name
    * `graft.harness.Probe` and the UI show), restoring the caller's
    * description after.
    */
  private[graft] def labelled[T](spark: SparkSession, label: String)
                                (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  private val JobDescription = "spark.job.description"

  /** Stats-pruned READ: files whose recorded [min, max] on `keyCol`
    * cannot overlap `[lo, hi]` are dropped before Spark sees them (no
    * bounds, or an unprunable type, keeps the file); the survivors scan
    * with the range predicate applied, so Catalyst still pushes it into
    * row-group and page skipping inside each file. The key type comes
    * from the TABLE schema, never from the bound's runtime class: a
    * mistyped bound is refused rather than silently compared in the
    * wrong domain.
    */
  private[graft] def readWhere[F](table: String, keyCol: String,
                                  dt: DataType, lo: Any, hi: Any,
                                  files: Seq[F])
                                 (bounds: F => Option[(Any, Any)])
                                 (read: Seq[F] => DataFrame): SkippingScan = {
    val isString = dt == StringType
    require(isString == lo.isInstanceOf[String] &&
        isString == hi.isInstanceOf[String],
      s"$table.$keyCol is ${dt.simpleString}; bounds " +
        s"(${lo.getClass.getSimpleName}, ${hi.getClass.getSimpleName}) " +
        "must match the column type")
    val (scanned, skipped) =
      if (!prunable(dt)) (files, Nil)
      else {
        val (l, h) = (key(dt, lo), key(dt, hi))
        files.partition(fi => bounds(fi).forall { case (mn, mx) =>
          key(dt, mx).compareTo(l) >= 0 && key(dt, mn).compareTo(h) <= 0
        })
      }
    SkippingScan(read(scanned).filter(col(keyCol) >= lo && col(keyCol) <= hi),
      scanned.size, skipped.size)
  }
}
