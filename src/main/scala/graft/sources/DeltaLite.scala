package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, MapType, ShortType, StringType, StructField, StructType}

/** Native reader/writer for the (public) Delta Lake transaction-log
  * protocol — the minimal core that makes transactional parquet tables
  * readable WITHOUT any Delta jars (none exist in this environment; see
  * README "Table-format boundary"). The protocol is an open spec
  * (delta.io PROTOCOL.md): a table is a parquet-file directory plus
  * `_delta_log/` holding one JSON actions file per commit
  * (`%020d.json`), optionally compacted into parquet checkpoints
  * (`%020d.checkpoint.parquet`) advertised by `_last_checkpoint`.
  *
  * Covered: `metaData` (schemaString), `add`, `remove` actions; snapshot
  * resolution at latest or any historical version (time travel);
  * checkpoint bootstrap + JSON tail replay; a commit writer (overwrite /
  * append) used by the reference-shaped maintenance flows and the specs.
  * Out of scope (documented, not silently wrong): column-mapping modes,
  * deletion vectors, generated columns — tables using those carry
  * `protocol.minReaderVersion` > 1 and this reader REFUSES them loudly
  * rather than mis-reading.
  *
  * Scale shape: log replay is driver-side and bounded by the action
  * count, exactly as in the reference implementation of the protocol
  * (every Delta reader resolves the file list on the driver); the data
  * itself is never touched during replay — the snapshot is handed to
  * Spark's parquet source as an explicit file list, so scans keep
  * pushdown, pruning, and vectorized decode. Reference:
  * tasks/Query History API to Delta_withmetrics.py:1-264 writes its
  * results through exactly this protocol (via Databricks' engine).
  *
  * Writer concurrency: every commit claims its version put-if-absent
  * ([[publishCommitIfAbsent]]), so two writers racing one version never
  * both succeed — the loser fails loudly ([[publishCommit]]) or, through
  * [[commitContended]], rebases and retries. Readers are always safe:
  * they only see fully written commits.
  */
object DeltaLite {

  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def logDir(table: String) = new Path(table, "_delta_log")
  private def commitFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")
  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Snapshot state after replaying the log to a version. `stats` maps a
    * live file to its add-action `stats` JSON (numRecords / minValues /
    * maxValues — the protocol's data-skipping payload) when the writer
    * recorded one; files from checkpoint bootstraps or foreign writers
    * may be absent (consumers must treat missing stats conservatively).
    * `dvs` maps a live file to its `deletionVector` descriptor (raw
    * JSON, re-emitted verbatim by metadata-only commits); `configuration`
    * is the metaData action's table configuration (column-mapping mode
    * lives here).
    */
  /** `txns` is the replayed SetTransaction state: appId → latest
    * version, the idempotent-writer contract foreign streaming engines
    * ride (a writer checks its appId's last recorded version before
    * re-committing a batch). `partitionColumns` comes from metaData,
    * `partitionValues` per file from the add actions — hive-style
    * partition columns live in the DIRECTORY/log, not the data files,
    * and reads re-attach them.
    */
  final case class Snapshot(version: Long, schemaJson: Option[String],
                            files: Seq[String],
                            stats: Map[String, String] = Map.empty,
                            dvs: Map[String, String] = Map.empty,
                            configuration: Map[String, String] = Map.empty,
                            txns: Map[String, Long] = Map.empty,
                            partitionColumns: Seq[String] = Nil,
                            partitionValues: Map[String, Map[String, String]] = Map.empty,
                            minWriterVersion: Int = 1,
                            writerFeatures: Set[String] = Set.empty,
                            minReaderVersion: Int = 1,
                            readerFeatures: Set[String] = Set.empty,
                            domainMetadata: Map[String, String] = Map.empty,
                            rowIds: Map[String, (Long, Long)] = Map.empty)

  /** All committed versions, ascending (from JSON commit filenames). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = logDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Checkpoint versions with a COMPLETE file set in a _delta_log
    * listing: classic single-file, v2 uuid-named (parquet or json), and
    * classic multi-part only when every `i of n` part is present. Both
    * the reader bootstrap and the log cleanup must agree on this set —
    * a version only one of them trusts is a truncated-replay bug.
    */
  private[graft] def completeCheckpointVersions(names: Seq[String]): Seq[Long] = {
    val Classic = """(\d{20})\.checkpoint\.parquet""".r
    val Multi   = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    val V2      = """(\d{20})\.checkpoint\.([-a-zA-Z0-9_]+)\.(parquet|json)""".r
    val classic = names.collect { case Classic(v) => v.toLong }
    val v2 = names.collect { case V2(v, _, _) => v.toLong }
    val multi = names.collect { case Multi(v, i, n) => (v.toLong, i.toInt, n.toInt) }
      .groupBy(x => (x._1, x._3))
      .collect { case ((v, n), parts)
        if parts.map(_._2).toSet == (1 to n).toSet => v }
    (classic ++ v2 ++ multi).distinct.sorted
  }

  private def readActions(f: FileSystem, p: Path): Seq[JsonNode] = {
    val in = f.open(p)
    try {
      val txt = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      txt.linesIterator.filter(_.nonEmpty).map(mapper.readTree).toSeq
    } finally in.close()
  }

  /** The checkpoint columns [[snapshot]] replays: every live-state action
    * kind, plus `sidecar` (a V2 checkpoint's pointers to its file
    * actions). `remove` is left out — a checkpoint's removes are vacuum
    * tombstones.
    */
  private val CheckpointActions =
    Seq("protocol", "metaData", "domainMetadata", "txn", "add", "sidecar")

  /** Replay the log to `version` (default: latest). Checkpoint-aware: if
    * `_last_checkpoint` names a version ≤ the target, the file set
    * bootstraps from that parquet checkpoint (read distributed, collected
    * — it is the file LIST, not the data) and only the JSON tail replays.
    */
  def snapshot(spark: SparkSession, table: String,
               version: Option[Long] = None): Snapshot = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"$table: no _delta_log commits")
    val target = version.getOrElse(vs.last)
    require(vs.contains(target), s"$table: version $target not in $vs")

    val f = fs(spark, logDir(table))
    // checkpoint bootstrap (only when it helps, i.e. cp ≤ target).
    // `_last_checkpoint` only ever names the NEWEST checkpoint; after a
    // cleanupLogs pass the commits below an older retained checkpoint
    // are gone, so a read below the pointer must DISCOVER its bootstrap
    // from the directory listing — replaying from v0 there would walk a
    // truncated log and silently return wrong data.
    val lastCp = new Path(logDir(table), "_last_checkpoint")
    val hinted: Option[Long] =
      if (!f.exists(lastCp)) None
      else Some(readActions(f, lastCp).head.get("version").asLong())
    // ONE listing serves both checkpoint DISCOVERY and the file lookup
    // below (same listing count as before this round — the load path
    // always listed). Discovery must run even when the pointer hits:
    // _last_checkpoint is best-effort-stale by protocol (a crash
    // between checkpoint write and pointer update, or a cleanup that
    // reaped the pointed-at files, leaves it behind) — the newest
    // COMPLETE checkpoint ≤ target from the listing wins; the bare
    // hint is kept as a last candidate only so a truly-corrupt table
    // (pointer dangling, no checkpoint anywhere, truncated prefix)
    // still fails LOUDLY at the file lookup instead of silently
    // replaying a truncated v0.
    val logList: Seq[Path] = f.listStatus(logDir(table)).toSeq.map(_.getPath)
    val cpVersion: Option[Long] =
      completeCheckpointVersions(logList.map(_.getName))
        .filter(_ <= target).lastOption
        .orElse(hinted.filter(_ <= target))
    var schemaJson: Option[String] = None
    val files = scala.collection.mutable.LinkedHashSet.empty[String]
    val stats = scala.collection.mutable.Map.empty[String, String]
    val dvs = scala.collection.mutable.Map.empty[String, String]
    val rowIds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var configuration = Map.empty[String, String]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    var partitionColumns = Seq.empty[String]
    val partValues = scala.collection.mutable.Map.empty[String, Map[String, String]]
    var minReader = 1
    var readerFeatures = Set.empty[String]
    var minWriter = 1
    var writerFeatures = Set.empty[String]
    // an add's partitionValues; a null value stays null
    def pvOf(n: JsonNode): Map[String, String] =
      Option(n.get("partitionValues")).map(_.properties().iterator().asScala
        .map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
        .getOrElse(Map.empty)

    def confOf(n: JsonNode): Map[String, String] =
      Option(n.get("configuration")).map { c =>
        c.properties().iterator().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)

    val domains = scala.collection.mutable.Map.empty[String, String]
    def applyProtocolNode(pr: JsonNode): Unit = {
      minReader = math.max(minReader, pr.get("minReaderVersion").asInt())
      if (pr.has("readerFeatures"))
        readerFeatures ++= pr.get("readerFeatures").elements().asScala
          .map(_.asText())
      Option(pr.get("minWriterVersion")).foreach(w =>
        minWriter = math.max(minWriter, w.asInt()))
      if (pr.has("writerFeatures"))
        writerFeatures ++= pr.get("writerFeatures").elements().asScala
          .map(_.asText())
    }
    def applyMetaDataNode(m: JsonNode): Unit = {
      schemaJson = Some(m.get("schemaString").asText())
      configuration = confOf(m)
      partitionColumns = Option(m.get("partitionColumns"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    }
    // domainMetadata: latest action per domain wins; removed=true
    // tombstones the domain (the liquid-clustering/foreign-writer state
    // channel — preserved verbatim, never interpreted)
    def applyDomainNode(d: JsonNode): Unit =
      if (d.path("removed").asBoolean(false))
        domains -= d.get("domain").asText()
      else domains(d.get("domain").asText()) =
        Option(d.get("configuration")).map(_.asText()).getOrElse("")

    def applyAddNode(add: JsonNode, v: Long): Unit = {
      val p = add.get("path").asText()
      files += p
      if (add.has("stats")) stats(p) = add.get("stats").asText()
      else stats -= p
      if (add.has("deletionVector") && !add.get("deletionVector").isNull)
        dvs(p) = add.get("deletionVector").toString
      else dvs -= p
      val pv = pvOf(add)
      if (pv.nonEmpty) partValues(p) = pv else partValues -= p
      if (add.has("baseRowId"))
        rowIds(p) = (add.get("baseRowId").asLong(),
          add.path("defaultRowCommitVersion").asLong(v))
      else rowIds -= p
    }
    // ONE applier for every action source: JSON commits, V2-JSON
    // checkpoints and parquet checkpoint rows (projected to the same JSON
    // below). `v` is the version a row-tracking add without
    // defaultRowCommitVersion defaults to; `removes` is false for
    // checkpoints, whose removes are vacuum tombstones, not live state
    def applyAction(a: JsonNode, v: Long, removes: Boolean): Unit = {
      if (a.has("protocol")) applyProtocolNode(a.get("protocol"))
      if (a.has("metaData")) applyMetaDataNode(a.get("metaData"))
      if (a.has("domainMetadata")) applyDomainNode(a.get("domainMetadata"))
      if (a.has("add")) applyAddNode(a.get("add"), v)
      if (removes && a.has("remove")) {
        val p = a.get("remove").get("path").asText()
        files -= p
        stats -= p
        dvs -= p
        partValues -= p
        rowIds -= p
      }
      // SetTransaction: a foreign streaming writer's exactly-once
      // bookkeeping — latest version per appId wins on replay
      if (a.has("txn")) {
        val t = a.get("txn")
        txns(t.get("appId").asText()) = t.get("version").asLong()
      }
    }
    // a parquet checkpoint's (or sidecar's) actions as JSON nodes: one
    // to_json projection of the action columns its schema holds, one
    // collect. A row holds one action; null fields are dropped, so each
    // node reads like a JSON-log action.
    def parquetActions(paths: Seq[String]): Seq[JsonNode] = {
      import org.apache.spark.sql.functions.{col, struct, to_json}
      val cp = spark.read.parquet(paths: _*)
      val present = CheckpointActions.filter(cp.columns.contains)
      if (present.isEmpty) Nil
      else cp.select(to_json(struct(present.map(col): _*),
          Map("ignoreNullFields" -> "true")))
        .collect().toSeq.flatMap(r => Option(r.getString(0)))
        .map(mapper.readTree)
    }

    cpVersion.foreach { cv =>
      // checkpoint DISCOVERY: classic single-file (`N.checkpoint.parquet`),
      // classic multi-part (`N.checkpoint.i.n.parquet` — every part read
      // as one frame), and V2 top-level (`N.checkpoint.<uuid>.parquet` or
      // `.json`, readerFeature v2Checkpoint) whose FILE actions may live
      // in `sidecar`-referenced parquet under _delta_log/_sidecars/
      val prefix = f"$cv%020d.checkpoint"
      val cpPaths = logList.filter(_.getName.startsWith(prefix))
      val parquets = cpPaths.filter(_.getName.endsWith(".parquet"))
      val jsonTops = cpPaths.filter(_.getName.endsWith(".json"))
      def resolveSidecar(p: String): String =
        if (p.contains("://") || p.startsWith("/")) p
        else new Path(new Path(logDir(table), "_sidecars"), p).toString
      val top: Seq[JsonNode] =
        if (parquets.nonEmpty) parquetActions(parquets.map(_.toString))
        else if (jsonTops.nonEmpty) jsonTops.flatMap(p => readActions(f, p))
        else sys.error(
          s"$table: _last_checkpoint names v$cv but no checkpoint file found")
      top.foreach(applyAction(_, 0L, removes = false))
      val sidecarPaths = top.filter(_.has("sidecar"))
        .map(a => resolveSidecar(a.get("sidecar").get("path").asText()))
      if (sidecarPaths.nonEmpty)
        parquetActions(sidecarPaths).foreach(applyAction(_, 0L, removes = false))
    }

    val replayFrom = cpVersion.map(_ + 1).getOrElse(0L)
    vs.filter(v => v >= replayFrom && v <= target).foreach { v =>
      readActions(f, commitFile(table, v))
        .foreach(applyAction(_, v, removes = true))
    }
    // Reader-protocol gate: v1 plain, v2 adds column mapping (supported),
    // v3 is table features — supported iff every listed reader feature is
    // one this reader implements. Anything else is REFUSED loudly rather
    // than mis-read.
    if (minReader >= 3) {
      require(readerFeatures.nonEmpty,
        s"$table: reader protocol v$minReader without a readerFeatures " +
          "list — malformed table-features protocol, unsupported")
      val unsupported = readerFeatures -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"$table: requires reader features ${unsupported.mkString(", ")} " +
          "— unsupported, refusing")
    } else require(minReader <= 2,
      s"$table: requires Delta reader protocol v$minReader — unsupported")
    Snapshot(target, schemaJson, files.toSeq,
      stats.view.filterKeys(files.contains).toMap,
      dvs.view.filterKeys(files.contains).toMap,
      configuration, txns.toMap, partitionColumns,
      partValues.view.filterKeys(files.contains).toMap,
      minWriter, writerFeatures, minReader, readerFeatures, domains.toMap,
      rowIds.view.filterKeys(files.contains).toMap)
  }

  /** Writer features this implementation actually honors when COMMITTING
    * to a table that declares them (the v7 table-features vocabulary):
    * DVs, column mapping, timestampNtz, appendOnly (enforced in
    * [[requireWritable]]), changeDataFeed (the [[CdfProperty]] channel),
    * domainMetadata + clustering (domain state is replayed into the
    * snapshot and PRESERVED by both checkpoint writers — this writer
    * never interprets or drops a foreign domain), v2Checkpoint
    * ([[checkpoint]] delegates to [[checkpointV2]] on tables declaring
    * it, so the checkpoints this writer produces stay spec-shaped),
    * and — enforced on every data commit by [[enforceTableFeatures]] —
    * CHECK constraints, column invariants, generated columns, and
    * identity columns.
    */
  private val SupportedWriterFeatures = Set("deletionVectors",
    "columnMapping", "timestampNtz", "appendOnly", "invariants",
    "changeDataFeed", "domainMetadata", "clustering", "v2Checkpoint",
    "checkConstraints", "generatedColumns", "identityColumns",
    "rowTracking", "inCommitTimestamp", "typeWidening")

  /** WRITER-protocol gate — the commit-side twin of the reader gate: a
    * table may demand writer capabilities (unknown v7 features) that
    * this writer does not implement; committing anyway would silently
    * break the table's own contracts for every other engine. Legacy
    * versions 1–6 are all writable (3/4/6's constraints, generated and
    * identity columns are ENFORCED by [[enforceTableFeatures]] on the
    * data-commit paths), as is 7-with-supported-features.
    * `delta.appendOnly` tables additionally refuse any commit that
    * REMOVES files.
    */
  private def requireWritable(table: String, snap: Snapshot,
                              removesFiles: Boolean): Unit = {
    if (snap.minWriterVersion >= 7) {
      val unsupported = snap.writerFeatures -- SupportedWriterFeatures
      require(unsupported.isEmpty,
        s"$table: requires writer features ${unsupported.mkString(", ")} " +
          "— unsupported, refusing to write")
    } else require(snap.minWriterVersion <= 6,
      s"$table: requires Delta writer protocol v${snap.minWriterVersion} " +
        "— unsupported, refusing to write")
    if (removesFiles)
      require(!snap.configuration.get("delta.appendOnly")
          .exists(_.equalsIgnoreCase("true")),
        s"$table: delta.appendOnly table — commits that remove files are " +
          "refused (append-only contract)")
  }

  // ===== write-contract enforcement: CHECK constraints, column
  // invariants, generated + identity columns (the writer features the
  // gate above admits because the data-commit paths enforce them) =====

  /** Identity-column declaration for [[commitWithFeatures]]: values
    * start at `start`, advance by `step` per assigned row; explicit
    * caller-supplied values are refused unless `allowExplicitInsert`.
    */
  case class IdentitySpec(start: Long = 1L, step: Long = 1L,
                          allowExplicitInsert: Boolean = false)

  private val ConstraintPrefix = "delta.constraints."
  private val GenExprKey = "delta.generationExpression"
  private val InvariantsKey = "delta.invariants"
  private val IdStartKey = "delta.identity.start"
  private val IdStepKey = "delta.identity.step"
  private val IdAllowKey = "delta.identity.allowExplicitInsert"
  private val IdWatermarkKey = "delta.identity.highWaterMark"

  /** Violation scan — ONE codegen'd pass over the batch evaluating every
    * contract at once; returns the first violating row's failed labels.
    * Predicates must be null-safe (built so a NULL constraint result
    * PASSES, the SQL CHECK semantics).
    */
  private def firstViolation(df: DataFrame,
                             checks: Seq[(String, Column)]): Option[String] = {
    if (checks.isEmpty) return None
    import org.apache.spark.sql.functions.col
    val flags = df.select(checks.zipWithIndex.map {
      case ((_, c), i) => c.as(s"__v$i")
    }.toIndexedSeq: _*)
    val row = flags
      .filter(checks.indices.map(i => col(s"__v$i")).reduce(_ || _))
      .limit(1).collect()
    row.headOption.map(r => checks.indices
      .filter(i => !r.isNullAt(i) && r.getBoolean(i))
      .map(i => checks(i)._1).mkString("; "))
  }

  /** Distributed contiguous identity assignment: one SMALL job counts
    * rows per scan partition (collect is O(#partitions)), the exclusive
    * prefix offsets broadcast back, and each row's value is
    * `next + step * (offset + rowIdxInPartition)` computed in place — no
    * global sort, no shuffle of the data. Two-pass determinism caveat
    * (the same one any Spark recompute makes): the source must produce
    * stable partitions across the count and write jobs. Returns the
    * frame plus the LAST value handed out (None on an empty batch).
    */
  private def assignIdentity(df: DataFrame, name: String, dt: DataType,
                             next: Long, step: Long)
      : (DataFrame, Option[Long]) = {
    import org.apache.spark.sql.functions._
    val pid = "__graft_id_pid"; val idx = "__graft_id_idx"
    val off = "__graft_id_off"
    val tagged = df.withColumn(pid, spark_partition_id())
      // monotonically_increasing_id = partitionId << 33 | indexInPartition
      .withColumn(idx,
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    val counts = tagged.groupBy(col(pid)).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    if (total == 0L) return (df.withColumn(name, lit(null).cast(dt)), None)
    var acc = 0L
    val offsets = counts.toSeq.map { case (p, c) =>
      val o = (p, acc); acc += c; o
    }
    val offDf = broadcast(df.sparkSession.createDataFrame(offsets)
      .toDF(pid, off))
    val assigned = tagged.join(offDf, pid)
      .withColumn(name,
        (lit(next) + lit(step) * (col(off) + col(idx))).cast(dt))
      .drop(pid, idx, off)
    (assigned, Some(next + step * (total - 1)))
  }

  /** The data-commit side of the features [[requireWritable]] admits:
    * CHECK constraints (`delta.constraints.*` table properties), column
    * invariants (`delta.invariants` field metadata), generated columns
    * (`delta.generationExpression` — POPULATED when the batch lacks the
    * column, VALIDATED when it supplies one), and identity columns
    * (`delta.identity.*` — assigned past the high watermark when
    * absent; explicit values only where the declaration allows them,
    * advancing the watermark). Works identically on tables this writer
    * created and on foreign-written ones — the contracts live in the
    * log, not in this code. Returns the frame to write (table field
    * metadata re-attached, in table column order) plus whether metaData
    * must re-emit (an identity watermark moved). Costs one extra scan
    * of the incoming BATCH when any check applies, plus one
    * per-partition-count job per identity assignment — O(batch), never
    * O(table).
    */
  private def enforceTableFeatures(spark: SparkSession, table: String,
                                   df: DataFrame, prev: Option[Snapshot],
                                   schemaReplaced: Boolean = false,
                                   rewrite: Boolean = false)
      : (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions._
    val snap = prev.getOrElse(return (df, false))
    val sj = snap.schemaJson.getOrElse(return (df, false))
    val constraints =
      snap.configuration.filter(_._1.startsWith(ConstraintPrefix))
    // a schema-replacing overwrite sheds the old schema's column
    // features (REPLACE TABLE semantics) but its configuration-borne
    // CHECK constraints persist and must hold on the new data
    if (schemaReplaced) {
      val checks = constraints.toSeq.sortBy(_._1).map { case (k, e) =>
        (s"CHECK constraint ${k.stripPrefix(ConstraintPrefix)} ($e)",
          not(coalesce(expr(e), lit(true))))
      }
      firstViolation(df, checks).foreach(lbl =>
        throw new IllegalArgumentException(
          s"$table: rows violate $lbl — refusing to commit"))
      return (df, false)
    }
    val featured = constraints.nonEmpty || sj.contains(GenExprKey) ||
      sj.contains(InvariantsKey) || sj.contains("delta.identity.")
    if (!featured) return (df, false)
    // mapped tables: CHECK constraints reference LOGICAL names, which is
    // what the incoming frame carries — validate them and stop there
    // (generated/identity/invariants ride the schema metadata that the
    // mapping machinery owns; that combination is refused)
    if (mappingMode(snap.configuration) != "none") {
      require(!sj.contains(GenExprKey) && !sj.contains(InvariantsKey) &&
          !sj.contains("delta.identity."),
        s"$table: generated/identity/invariant columns on a " +
          "column-mapped table are not supported by this writer")
      val checks = constraints.toSeq.sortBy(_._1).map { case (k, e) =>
        (s"CHECK constraint ${k.stripPrefix(ConstraintPrefix)} ($e)",
          not(coalesce(expr(e), lit(true))))
      }
      firstViolation(df, checks).foreach(lbl =>
        throw new IllegalArgumentException(
          s"$table: rows violate $lbl — refusing to commit"))
      return (df, false)
    }
    val schema = DataType.fromJson(sj).asInstanceOf[StructType]
    var out = df
    var forceMeta = false
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    val metaOf = scala.collection.mutable.Map.empty[
      String, org.apache.spark.sql.types.Metadata]
    schema.fields.foreach(f => metaOf(f.name) = f.metadata)

    schema.fields.filter(_.metadata.contains(GenExprKey)).foreach { f =>
      val g = f.metadata.getString(GenExprKey)
      if (!out.columns.contains(f.name))
        out = out.withColumn(f.name, expr(g).cast(f.dataType))
      else checks += (s"GENERATED column ${f.name} AS ($g)" ->
        !(col(s"`${f.name}`") <=> expr(g).cast(f.dataType)))
    }
    schema.fields.filter(_.metadata.contains(IdStartKey)).foreach { f =>
      val step = f.metadata.getLong(IdStepKey)
      val wm = if (f.metadata.contains(IdWatermarkKey))
        Some(f.metadata.getLong(IdWatermarkKey)) else None
      if (!out.columns.contains(f.name)) {
        val nextVal = wm.map(_ + step)
          .getOrElse(f.metadata.getLong(IdStartKey))
        val (assigned, last) =
          assignIdentity(out, f.name, f.dataType, nextVal, step)
        out = assigned
        last.foreach { l =>
          metaOf(f.name) = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(IdWatermarkKey, l).build()
          forceMeta = true
        }
      } else {
        // a REWRITE (selective merge/delete re-emitting rows it read)
        // carries the rows' EXISTING ids — that is not an explicit
        // insert; the watermark advance below still runs so any id a
        // merge source introduced can never be handed out again
        require(rewrite || (f.metadata.contains(IdAllowKey) &&
            f.metadata.getBoolean(IdAllowKey)),
          s"$table: IDENTITY column ${f.name} does not allow explicit " +
            "inserts (delta.identity.allowExplicitInsert is not true)")
        // explicit values advance the watermark to the furthest supplied
        // value in step direction (one column-only agg over the batch)
        val agg = if (step >= 0) max(col(s"`${f.name}`"))
          else min(col(s"`${f.name}`"))
        val m = out.agg(agg.cast("long")).collect().head
        if (!m.isNullAt(0)) {
          val v = m.getLong(0)
          if (wm.forall(w => if (step >= 0) v > w else v < w)) {
            metaOf(f.name) = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong(IdWatermarkKey, v).build()
            forceMeta = true
          }
        }
      }
    }
    schema.fields.filter(_.metadata.contains(InvariantsKey)).foreach { f =>
      // spec shape: {"expression":{"expression":"<sql>"}}
      val e = mapper.readTree(f.metadata.getString(InvariantsKey))
        .path("expression").path("expression").asText()
      if (e.nonEmpty)
        checks += (s"INVARIANT on ${f.name} ($e)" ->
          not(coalesce(expr(e), lit(true))))
    }
    constraints.toSeq.sortBy(_._1).foreach { case (k, e) =>
      checks += (s"CHECK constraint ${k.stripPrefix(ConstraintPrefix)} ($e)"
        -> not(coalesce(expr(e), lit(true))))
    }
    firstViolation(out, checks.toSeq).foreach(lbl =>
      throw new IllegalArgumentException(
        s"$table: rows violate $lbl — refusing to commit"))
    // table column order, (possibly watermark-bumped) metadata attached;
    // genuinely new columns (additive evolution) keep their incoming
    // shape at the end
    val tableCols = schema.fields.filter(f => out.columns.contains(f.name))
      .map(f => col(s"`${f.name}`").as(f.name, metaOf(f.name)))
    val extraCols = out.columns.filterNot(schema.fieldNames.contains)
      .map(c => col(s"`$c`"))
    (out.select((tableCols ++ extraCols).toIndexedSeq: _*), forceMeta)
  }

  /** A column referenced by a live CHECK constraint or generation
    * expression cannot be renamed or dropped without corrupting the
    * contract that references it (conservative identifier word-match).
    */
  private def featureReference(snap: Snapshot,
                               colName: String): Option[String] = {
    val pat = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b")
    snap.configuration.collectFirst {
      case (k, e) if k.startsWith(ConstraintPrefix) &&
          pat.matcher(e).find() =>
        s"CHECK constraint ${k.stripPrefix(ConstraintPrefix)} ($e)"
    }.orElse(snap.schemaJson.flatMap { sj =>
      val schema = DataType.fromJson(sj).asInstanceOf[StructType]
      schema.fields.collectFirst {
        case f if f.metadata.contains(GenExprKey) && f.name != colName &&
            pat.matcher(f.metadata.getString(GenExprKey)).find() =>
          s"generated column ${f.name}"
      }
    })
  }

  /** Writer-features protocol action for an upgrade commit: unions the
    * table's declared features (or its legacy version's implied set,
    * per the spec's mapping) with `added`. Reader side untouched —
    * these are writer-only features, so a legacy minReaderVersion stays.
    */
  private def writerFeatureUpgradeJson(snap: Snapshot,
                                       added: Set[String],
                                       addedReader: Set[String] = Set.empty)
      : String = {
    val implied: Set[String] = snap.minWriterVersion match {
      case v if v >= 7 => snap.writerFeatures
      case 6 => Set("appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed", "columnMapping",
        "identityColumns")
      case 5 => Set("appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed", "columnMapping")
      // writer v4 implies changeDataFeed AND generatedColumns (the spec's
      // cumulative legacy table) — dropping CDF here would silently stop
      // conformant engines' feed on an upgraded v4 table
      case 4 => Set("appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed")
      case 3 => Set("appendOnly", "invariants", "checkConstraints")
      case _ => Set("appendOnly", "invariants")
    }
    val wf = (implied ++ added ++ addedReader).toSeq.sorted
      .map(mapper.writeValueAsString).mkString(",")
    if (snap.minReaderVersion >= 3 || addedReader.nonEmpty) {
      // legacy reader version 2 implies columnMapping; it must carry
      // into the explicit feature list or a conformant reader loses it
      val impliedR: Set[String] =
        if (snap.minReaderVersion >= 3) snap.readerFeatures
        else if (snap.minReaderVersion == 2) Set("columnMapping")
        else Set.empty
      val rf = (impliedR ++ addedReader).toSeq.sorted
        .map(mapper.writeValueAsString).mkString(",")
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$rf],"writerFeatures":[$wf]}}"""
    } else
      s"""{"protocol":{"minReaderVersion":${snap.minReaderVersion},"minWriterVersion":7,"writerFeatures":[$wf]}}"""
  }

  /** ALTER TABLE ... ADD CONSTRAINT — validates EXISTING data first (one
    * scan, refused on any violating row), then publishes a metadata
    * commit carrying the `delta.constraints.<name>` property plus a
    * protocol upgrade declaring `checkConstraints`. Every later data
    * commit enforces it ([[enforceTableFeatures]]).
    */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
                         constraint: String): Long = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    val key = ConstraintPrefix + name.toLowerCase
    require(!snap.configuration.contains(key),
      s"$table: constraint $name already exists")
    val bad = read(spark, table)
      .filter(not(coalesce(expr(constraint), lit(true)))).limit(1).count()
    require(bad == 0L,
      s"$table: existing rows violate CHECK ($constraint) — not added")
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"ADD CONSTRAINT","timestamp":0}}""" +
        "\n" + writerFeatureUpgradeJson(snap, Set("checkConstraints")) +
        "\n" + metaDataJson(v, snap.schemaJson.get,
        snap.configuration + (key -> constraint),
        partitionColumns = snap.partitionColumns))
    v
  }

  /** ALTER TABLE ... DROP CONSTRAINT — metadata-only removal (the
    * declared protocol stays; an unused feature declaration is legal).
    */
  def dropCheckConstraint(spark: SparkSession, table: String,
                          name: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    val key = ConstraintPrefix + name.toLowerCase
    require(snap.configuration.contains(key),
      s"$table: no constraint $name")
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"DROP CONSTRAINT","timestamp":0}}""" +
        "\n" + metaDataJson(v, snap.schemaJson.get,
        snap.configuration - key,
        partitionColumns = snap.partitionColumns))
    v
  }

  /** CREATE TABLE with column features: generated columns (`name ->
    * expression`, populated from the batch when absent), identity
    * columns (`name -> IdentitySpec`, assigned from `start` — must NOT
    * be supplied), and CHECK constraints (`name -> sql`, validated on
    * the creation batch). Commit 0 carries a v7 writer-features
    * protocol declaring exactly what the table uses; every later
    * [[commit]] — and the selective merge/delete paths riding it —
    * enforces the declarations via [[enforceTableFeatures]].
    */
  def commitWithFeatures(spark: SparkSession, table: String, df: DataFrame,
                         generated: Map[String, String] = Map.empty,
                         identity: Map[String, IdentitySpec] = Map.empty,
                         constraints: Map[String, String] = Map.empty,
                         partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    require(versions(spark, table).isEmpty,
      s"$table: already a table — column features are declared at creation")
    require(generated.nonEmpty || identity.nonEmpty || constraints.nonEmpty,
      "no features declared — use commit()")
    var out = df
    generated.foreach { case (c, g) =>
      if (!out.columns.contains(c)) out = out.withColumn(c, expr(g))
    }
    // caller-SUPPLIED generated values validate at creation exactly as
    // every later append would (enforceTableFeatures' GENERATED check) —
    // otherwise commit 0 could violate the table's own logged contract
    val suppliedGen = generated.filter { case (c, _) => df.columns.contains(c) }
    if (suppliedGen.nonEmpty) {
      val genChecks = suppliedGen.toSeq.sortBy(_._1).map { case (c, g) =>
        (s"GENERATED column $c AS ($g)",
          !(col(s"`$c`") <=> expr(g).cast(df.schema(c).dataType)))
      }
      firstViolation(out, genChecks).foreach(lbl =>
        throw new IllegalArgumentException(
          s"$table: rows violate $lbl — refusing to commit"))
    }
    var lastOf = Map.empty[String, Long]
    identity.foreach { case (c, spec) =>
      require(!out.columns.contains(c),
        s"$table: identity column $c must not be supplied at creation")
      val (assigned, last) = assignIdentity(out, c,
        org.apache.spark.sql.types.LongType, spec.start, spec.step)
      out = assigned
      last.foreach(l => lastOf += c -> l)
    }
    val cols = out.schema.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      generated.get(f.name).foreach(g => mb.putString(GenExprKey, g))
      identity.get(f.name).foreach { s =>
        mb.putLong(IdStartKey, s.start).putLong(IdStepKey, s.step)
          .putBoolean(IdAllowKey, s.allowExplicitInsert)
        lastOf.get(f.name).foreach(mb.putLong(IdWatermarkKey, _))
      }
      col(s"`${f.name}`").as(f.name, mb.build())
    }
    out = out.select(cols.toIndexedSeq: _*)
    val checks = constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      (s"CHECK constraint $n ($e)", not(coalesce(expr(e), lit(true))))
    }
    firstViolation(out, checks).foreach(lbl =>
      throw new IllegalArgumentException(
        s"$table: rows violate $lbl — refusing to commit"))
    partitionBy.foreach(c => require(out.schema.fieldNames.contains(c),
      s"$table: partition column $c not in the frame"))
    val conf = constraints.map { case (n, e) =>
      (ConstraintPrefix + n.toLowerCase, e)
    }
    val features = Set("appendOnly", "invariants") ++
      (if (constraints.nonEmpty) Set("checkConstraints") else Set.empty) ++
      (if (generated.nonEmpty) Set("generatedColumns") else Set.empty) ++
      (if (identity.nonEmpty) Set("identityColumns") else Set.empty)
    val wf = features.toSeq.sorted.map(mapper.writeValueAsString)
      .mkString(",")
    val named = stageParts(spark, table, out, "v0", "part-00000",
      partitionBy = partitionBy)
    val sb = new StringBuilder
    sb.append("""{"commitInfo":{"operation":"CREATE TABLE","timestamp":0}}""")
      .append('\n')
    sb.append(s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":[$wf]}}""")
      .append('\n')
    sb.append(metaDataJson(0L, out.schema.json, conf, partitionBy))
    named.foreach { case (p, size, stats, pv) =>
      val pj = mapper.writeValueAsString(p)
      val statsField = stats.map(s =>
        s""","stats":${mapper.writeValueAsString(s)}""").getOrElse("")
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":${pvJsonOf(pv)},"modificationTime":0,"dataChange":true$statsField}}""")
        .append('\n')
    }
    publishCommit(spark, table, 0L, sb.toString)
    0L
  }

  // ===== row tracking (the `rowTracking` writer feature): every row
  // gets a durable id = the file's baseRowId + its row index; fresh
  // ranges come from the high watermark in the `delta.rowTracking`
  // domain. DV deletes never touch files, so surviving ids are STABLE
  // under merge-on-read; copy-on-write rewrites assign fresh ids (the
  // spec's non-materialized semantics). =====

  val RowTrackingProperty = "delta.enableRowTracking"
  private val RowTrackingDomain = "delta.rowTracking"

  private def rowTrackingOn(s: Snapshot): Boolean =
    s.writerFeatures.contains("rowTracking") ||
      s.configuration.get(RowTrackingProperty)
        .exists(_.equalsIgnoreCase("true"))

  /** Highest row id ever assigned (the `delta.rowTracking` domain's
    * watermark), None before any assignment.
    */
  private def rowIdHighWaterMark(s: Snapshot): Option[Long] =
    s.domainMetadata.get(RowTrackingDomain).flatMap { c =>
      try Option(mapper.readTree(c).get("rowIdHighWaterMark"))
        .map(_.asLong())
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Turn row tracking ON: one commit that (1) upgrades the protocol to
    * writer features + `rowTracking`/`domainMetadata`, (2) sets the
    * table property, and (3) BACKFILLS — re-emits every live add action
    * with an assigned `baseRowId` (metadata-only, `dataChange: false`;
    * not a byte of data moves, the same backfill shape the real
    * enablement runs). Later commits assign fresh ranges automatically.
    */
  def enableRowTracking(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    require(mappingMode(snap.configuration) == "none",
      s"$table: row tracking on a column-mapped table is not supported")
    require(!rowTrackingOn(snap), s"$table: row tracking already enabled")
    val f = fs(spark, new Path(table))
    val v = snap.version + 1
    var next = rowIdHighWaterMark(snap).map(_ + 1).getOrElse(0L)
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":"ENABLE ROW TRACKING","timestamp":0}}""")
      .append('\n')
    sb.append(writerFeatureUpgradeJson(snap,
      Set("rowTracking", "domainMetadata"))).append('\n')
    sb.append(metaDataJson(v, snap.schemaJson.get,
      snap.configuration + (RowTrackingProperty -> "true"),
      partitionColumns = snap.partitionColumns))
    snap.files.foreach { p =>
      val n = snap.stats.get(p).flatMap(j =>
        Option(mapper.readTree(j).get("numRecords")).map(_.asLong()))
        .getOrElse(sys.error(s"$table: backfill needs numRecords " +
          s"add-stats for $p — rewrite the file first (OPTIMIZE)"))
      val pj = mapper.writeValueAsString(p)
      val size = f.getFileStatus(new Path(table, p)).getLen
      val statsField = snap.stats.get(p).map(st =>
        s""","stats":${mapper.writeValueAsString(st)}""").getOrElse("")
      val dvField = snap.dvs.get(p)
        .map(dj => s""","deletionVector":$dj""").getOrElse("")
      val pvField = pvJsonOf(snap.partitionValues.getOrElse(p, Map.empty))
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":$pvField,"modificationTime":0,"dataChange":false$statsField$dvField,"baseRowId":$next,"defaultRowCommitVersion":$v}}""")
        .append('\n')
      next += n
    }
    if (next > 0) {
      val confJson = mapper.writeValueAsString(
        s"""{"rowIdHighWaterMark":${next - 1}}""")
      sb.append(s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":$confJson,"removed":false}}""")
        .append('\n')
    }
    publishCommit(spark, table, v, sb.toString)
    v
  }

  /** Read with `_row_id` + `_row_commit_version` attached — baseRowId +
    * the parquet row index (`_metadata.row_index`, computed by the scan,
    * zero extra I/O), the file→base map broadcast-joined so the data
    * never shuffles. DV-masked rows drop out while SURVIVORS keep their
    * physical indexes — ids are stable under merge-on-read deletes.
    * Files without a baseRowId (written before enablement by a foreign
    * writer) surface NULL ids, the honest answer.
    */
  def readWithRowIds(spark: SparkSession, table: String,
                     version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val snap = snapshot(spark, table, version)
    val logical = snap.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(sys.error(s"$table: no metaData in log"))
    require(mappingMode(snap.configuration) == "none" &&
        snap.partitionColumns.isEmpty,
      s"$table: row-id reads on mapped/partitioned tables are not " +
        "supported")
    val outSchema = StructType(logical.fields ++ Seq(
      StructField("_row_id", org.apache.spark.sql.types.LongType),
      StructField("_row_commit_version",
        org.apache.spark.sql.types.LongType)))
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val base = spark.read.schema(logical)
      .parquet(snap.files.map(p => new Path(table, p).toString): _*)
      .withColumn("__graft_file",
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__graft_idx", col("_metadata.row_index"))
    val masked =
      if (snap.dvs.isEmpty) base
      else {
        val root = new Path(table)
        val f = fs(spark, root)
        val bitmaps: Map[String, Array[Byte]] = snap.dvs.map {
          case (p, dj) => new Path(table, p).getName ->
            DeletionVectors.readBitmapBytes(f, root, parseDv(dj))
        }
        val bc = spark.sparkContext.broadcast(bitmaps)
        base.filter(!DeletionVectors.dvDeleted(bc,
          col("__graft_file"), col("__graft_idx"), identity))
      }
    val info = snap.files.map(p => (new Path(table, p).getName,
      snap.rowIds.get(p).map(r => java.lang.Long.valueOf(r._1)).orNull,
      snap.rowIds.get(p).map(r => java.lang.Long.valueOf(r._2)).orNull))
    val infoDf = broadcast(spark.createDataFrame(info)
      .toDF("__graft_file", "__graft_base", "__graft_ver"))
    masked.join(infoDf, Seq("__graft_file"), "left")
      .select(logical.fieldNames.toIndexedSeq.map(n => col(s"`$n`")) :+
        (col("__graft_base") + col("__graft_idx")).as("_row_id") :+
        col("__graft_ver").as("_row_commit_version"): _*)
  }

  /** The last version a foreign (or local) streaming writer recorded for
    * `appId` via SetTransaction — the idempotent-writer check: an
    * exactly-once producer skips any batch whose id is ≤ this. None when
    * the appId has never committed.
    */
  def lastTransaction(spark: SparkSession, table: String,
                      appId: String): Option[Long] =
    snapshot(spark, table).txns.get(appId)

  /** Reader features this implementation actually honors (protocol v3
    * table-features vocabulary): deletion vectors (merge-on-read row
    * masks, applied by [[read]]), column mapping (physical→logical name
    * resolution), and timestampNtz (a pure type capability — scans read
    * TIMESTAMP_NTZ natively).
    */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint",
      "typeWidening")

  /** Read a DeltaLite/Delta table as a DataFrame at latest or a pinned
    * version. The snapshot's relative paths resolve against the table
    * root and feed Spark's parquet source directly — an empty snapshot
    * yields an empty frame WITH the committed schema. Column-mapped
    * tables (mode `name`/`id`) read under their PHYSICAL parquet names
    * and are relabeled to the logical schema; files carrying deletion
    * vectors are masked by row index (see [[readSnapshot]]).
    */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, table, version)
    readSnapshot(spark, table, s, s.files)
  }

  /** TIMESTAMP AS OF — resolve the snapshot a reader at `tsMillis` would
    * have seen: the LATEST version whose commitInfo timestamp is ≤ the
    * bound (the same rule as the real syntax). Commit timestamps come
    * from the log (this library's own writer zeroes them for
    * deterministic tests — version pinning is the precise instrument
    * there; this verb exists for FOREIGN logs, which carry wall-clock
    * stamps). Versions without a commitInfo timestamp inherit the
    * previous version's (monotonic resolution never goes backward);
    * a bound before the first commit is refused, like the real reader.
    * On ICT tables ([[IctProperty]]) the `inCommitTimestamp` inside the
    * commitInfo is AUTHORITATIVE for its version — it exists precisely
    * because wall-clock `timestamp` fields and file mtimes drift.
    */
  def readAsOf(spark: SparkSession, table: String,
               tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, tsMillis)))

  /** The version a reader at `tsMillis` would see (TIMESTAMP AS OF
    * resolution without the read) — [[readAsOf]]'s resolver, also the
    * translation layer for `startingTimestamp` stream options and
    * [[vacuumRetainHours]].
    */
  def versionAsOf(spark: SparkSession, table: String,
                  tsMillis: Long): Long = {
    // a zero-stamp log resolves EVERY ts >= 0 to the tip — refuse like
    // the other time-keyed entry points (vacuumRetainHours, streams)
    // instead of silently answering; version pinning is the precise
    // instrument on such tables. Guard derived from the SAME stamp
    // pass — versionStamps reads every commit JSON, once is enough.
    val stamped = versionStamps(spark, table)
    require(stamped.exists(_._2 > 0),
      s"$table: log carries no wall-clock commit stamps — TIMESTAMP AS " +
        "OF cannot resolve; pin VERSION AS OF instead (or enable " +
        s"$IctProperty)")
    stamped.filter(_._2 <= tsMillis).lastOption.getOrElse(
      sys.error(s"$table: no version at or before timestamp $tsMillis " +
        s"(earliest commit is at ${stamped.head._2})"))._1
  }

  /** The first version stamped at or after `tsMillis` — the
    * `startingTimestamp` stream option's resolver ("changes committed
    * at or after T"). None when every commit predates the bound.
    */
  def firstVersionAtOrAfter(spark: SparkSession, table: String,
                            tsMillis: Long): Option[Long] =
    if (versions(spark, table).isEmpty) None
    else versionStamps(spark, table).find(_._2 >= tsMillis).map(_._1)

  /** Does the log carry ANY wall-clock commit stamp (ICT or a foreign
    * writer's timestamps)? Zero-stamp logs (this library's own
    * deterministic writer without ICT) cannot answer time-based
    * questions — callers refuse instead of silently misresolving.
    */
  def hasWallClockStamps(spark: SparkSession, table: String): Boolean =
    versions(spark, table).nonEmpty &&
      versionStamps(spark, table).exists(_._2 > 0)

  /** Every version with its MONOTONIC resolved timestamp —
    * `inCommitTimestamp` when present (authoritative on ICT tables),
    * else the legacy commitInfo `timestamp`, else inherited from the
    * previous version (resolution never goes backward).
    */
  private def versionStamps(spark: SparkSession,
                            table: String): Seq[(Long, Long)] = {
    val f = fs(spark, logDir(table))
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"$table: no _delta_log commits")
    var last = Long.MinValue
    vs.map { v =>
      val ts = readActions(f, commitFile(table, v))
        .find(_.has("commitInfo"))
        .flatMap { a =>
          val ci = a.get("commitInfo")
          Option(ci.get("inCommitTimestamp"))
            .orElse(Option(ci.get("timestamp")))
        }
        .map(_.asLong()).getOrElse(last)
      last = math.max(last, ts)
      (v, last)
    }
  }

  // ----------------------------------------------------- column mapping
  private val MappingModeKey = "delta.columnMapping.mode"
  private val PhysicalNameKey = "delta.columnMapping.physicalName"
  private val ColumnIdKey = "delta.columnMapping.id"

  private def mappingMode(conf: Map[String, String]): String =
    conf.getOrElse(MappingModeKey, "none")

  /** A field's parquet name under column mapping. Delta writes the
    * physicalName into every mapped table's schema metadata in BOTH
    * `name` and `id` modes (in `id` mode the parquet field-id is the
    * normative match, but the physical name is present and consistent
    * for Delta-written files — the class this reader targets).
    */
  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** The schema as the parquet files spell it: every mapped name swapped
    * in, recursively (struct fields at any depth carry their own
    * mapping metadata).
    */
  private[sources] def physicalSchema(logical: StructType): StructType =
    StructType(logical.fields.map { f =>
      f.copy(name = physicalName(f), dataType = physicalType(f.dataType))
    })

  private def physicalType(dt: DataType): DataType = dt match {
    case st: StructType    => physicalSchema(st)
    case ArrayType(e, n)   => ArrayType(physicalType(e), n)
    case MapType(k, v, n)  => MapType(physicalType(k), physicalType(v), n)
    case other             => other
  }

  /** Rebuild a physically-named column as its logical shape — identity
    * for leaves, a struct/array rebuild where mapped names nest. Map
    * values with mapped struct names inside are refused (no lossless
    * rebuild exists for map keys); Delta's own writers don't produce
    * them under mapping for the shapes this library lands.
    */
  private def toLogical(c: Column, phys: DataType, logical: DataType): Column =
    (phys, logical) match {
      case (ps: StructType, ls: StructType) =>
        org.apache.spark.sql.functions.struct(
          ps.fields.zip(ls.fields).map { case (pf, lf) =>
            toLogical(c.getField(pf.name), pf.dataType, lf.dataType)
              .as(lf.name)
          }.toIndexedSeq: _*)
      case (ArrayType(pe, _), ArrayType(le, _)) if pe != le =>
        org.apache.spark.sql.functions.transform(c, x => toLogical(x, pe, le))
      case (pm: MapType, lm: MapType) =>
        require(pm == lm,
          "column mapping inside map types is unsupported — refusing")
        c
      case _ => c
    }

  private def relabel(df: DataFrame, phys: StructType,
                      logical: StructType): DataFrame =
    df.select(phys.fields.zip(logical.fields).map { case (pf, lf) =>
      toLogical(df(s"`${pf.name}`"), pf.dataType, lf.dataType).as(lf.name)
    }.toIndexedSeq: _*)

  /** The physical parquet name of logical column `name` in `snap`'s
    * schema — the translation every stats consumer (readWhere,
    * selectiveMerge) applies before touching add-stats keys, which are
    * recorded in physical names on mapped tables.
    */
  private def physicalNameOf(snap: Snapshot, name: String): String =
    if (mappingMode(snap.configuration) == "none") name
    else snap.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).flatMap(
      _.fields.find(_.name == name).map(physicalName)).getOrElse(name)

  // ------------------------------------------------------------ DV reads
  private def parseDv(json: String): DeletionVectors.DvDescriptor = {
    val n = mapper.readTree(json)
    DeletionVectors.DvDescriptor(
      n.get("storageType").asText(), n.get("pathOrInlineDv").asText(),
      Option(n.get("offset")).map(_.asInt()).getOrElse(0),
      n.get("sizeInBytes").asInt(), n.get("cardinality").asLong())
  }

  /** Read a subset of `snap`'s live files with full semantics: deletion
    * vectors applied (files with a DV scan with `_metadata.row_index`
    * and anti-filter through the broadcast [[DvProbe]] — zero shuffle,
    * bitmap bytes ∝ deleted rows), then physical→logical relabel for
    * column-mapped tables. DV-free files take the plain scan path with
    * no metadata columns at all. Pushdown/pruning survive both paths
    * (explicit file lists into Spark's parquet source).
    */
  private[sources] def readSnapshot(spark: SparkSession, table: String,
                                    snap: Snapshot,
                                    files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val logical = snap.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    val mapped = mappingMode(snap.configuration) != "none"
    require(logical.nonEmpty || (!mapped && snap.dvs.isEmpty),
      s"$table: mapped/DV table without metaData in log")
    val readSchema = logical.map(l => if (mapped) physicalSchema(l) else l)
    val (dvFiles, plainFiles) = files.partition(snap.dvs.contains)
    def paths(fs: Seq[String]) = fs.map(p => new Path(table, p).toString)
    // PARTITIONED tables: partition columns live in the log/dirs, not
    // the data files — re-attach them per file. Hive-relative layouts
    // (ours and most foreign logs) read in ONE scan via basePath
    // discovery (keeps Catalyst PartitionFilters pruning); absolute or
    // non-hive paths fall back to per-partition-value groups with
    // literal columns. Partitioned + mapped is refused at write;
    // partitioned + DV is refused here (no writer produces it).
    if (snap.partitionColumns.nonEmpty) {
      require(!mapped,
        s"$table: partitioned + column-mapped tables are not supported")
      require(dvFiles.isEmpty,
        s"$table: partitioned table with deletion vectors — unsupported")
      val full = logical.get
      val dataSchema = StructType(full.fields.filterNot(fl =>
        snap.partitionColumns.contains(fl.name)))
      if (files.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
      val order = full.fieldNames.toIndexedSeq.map(n => col(s"`$n`"))
      // hive layout means a DIRECTORY segment carries col=value — a '='
      // in the file NAME alone (foreign flat layouts with partition
      // values only in the log) must take the literal-attach path, or
      // basePath discovery would null-fill every partition column
      val hiveRelative = files.forall(p =>
        p.split("/").dropRight(1).exists(_.contains("=")) &&
          !p.contains(":/") && !p.startsWith("/"))
      val out =
        if (hiveRelative) {
          val raw = spark.read.schema(full)
            .option("basePath", new Path(table).toString)
            .parquet(paths(files): _*)
          raw.select(order: _*)
        } else {
          import org.apache.spark.sql.functions.lit
          files.groupBy(p => snap.partitionValues.getOrElse(p, Map.empty))
            .toSeq.map { case (pv, group) =>
              val base = spark.read.schema(dataSchema)
                .parquet(paths(group): _*)
              snap.partitionColumns.foldLeft(base) { (d, c) =>
                d.withColumn(c,
                  lit(pv.getOrElse(c, null)).cast(full(c).dataType))
              }.select(order: _*)
            }.reduce(_.unionByName(_))
        }
      return out
    }
    val plainDf: Option[DataFrame] =
      if (plainFiles.isEmpty) None
      else Some(readSchema match {
        case Some(sc) => spark.read.schema(sc).parquet(paths(plainFiles): _*)
        case None     => spark.read.parquet(paths(plainFiles): _*)
      })
    val dvDf: Option[DataFrame] =
      if (dvFiles.isEmpty) None
      else {
        val root = new Path(table)
        val f = fs(spark, root)
        // driver holds only the COMPRESSED bitmap bytes (∝ deleted rows),
        // broadcast once; keyed by data-file NAME (unique within a table
        // — Delta part names carry UUIDs, ours carry version+index)
        val bitmaps: Map[String, Array[Byte]] = dvFiles.map { p =>
          new Path(table, p).getName ->
            DeletionVectors.readBitmapBytes(f, root, parseDv(snap.dvs(p)))
        }.toMap
        val bc = spark.sparkContext.broadcast(bitmaps)
        val base = spark.read.schema(readSchema.get)
          .parquet(paths(dvFiles): _*)
        val masked = base.filter(!DeletionVectors.dvDeleted(bc,
          col("_metadata.file_path"), col("_metadata.row_index"),
          DeletionVectors.fileName))
        Some(masked.select(readSchema.get.fieldNames.toIndexedSeq
          .map(n => col(s"`$n`")): _*))
      }
    val physDf = (plainDf.toSeq ++ dvDf.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse {
        val sc = readSchema.getOrElse(
          sys.error(s"$table: empty snapshot without metaData"))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      }
    if (mapped) relabel(physDf, readSchema.get, logical.get) else physDf
  }

  /** Commit `df` as the next version: write its rows as parquet part
    * files under the table root, then atomically publish one JSON actions
    * file — `metaData` + `add`s, preceded by `remove`s of the previous
    * snapshot when overwriting. Append-only log + rename-publish = the
    * same crash-safety argument as TableMaintenance's v=N/_SUCCESS
    * protocol: a crash before the log rename leaves only unreferenced
    * data files, which readers never see.
    */
  /** `delta.enableChangeDataFeed` — when set on a table, selectiveMerge
    * and selectiveDelete also materialize the EXACT per-commit change
    * feed as `_change_data` files + `cdc` actions (what CDF-enabled
    * foreign engines write, and what [[changes]] prefers over its
    * net-file-diff).
    */
  val CdfProperty = "delta.enableChangeDataFeed"

  private def cdfEnabled(conf: Map[String, String]): Boolean =
    conf.get(CdfProperty).exists(_.equalsIgnoreCase("true"))

  /** SET TBLPROPERTIES — metadata-only commit updating the table
    * configuration (schema and files untouched).
    */
  def setTableProperty(spark: SparkSession, table: String, key: String,
                       value: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    // the mirror of deleteVectors' uniform refusal: enabling the face
    // OVER live DVs would generate an Iceberg face that resurrects the
    // masked rows — purge them first, then enable
    if (key == "delta.universalFormat.enabledFormats" &&
        uniformEnabled(Map(key -> value)))
      require(snap.dvs.isEmpty,
        s"$table: cannot enable universalFormat while deletion vectors " +
          "are live — the Iceberg face cannot express them; run " +
          "purgeDvs first")
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"SET TBLPROPERTIES","timestamp":0}}""" +
        // metaData REPLACES its predecessor wholesale (so the partition
        // columns must carry), and NO protocol action is written — the
        // table's declared protocol, possibly stronger than anything
        // this writer derives, stays in force
        "\n" + metaDataJson(v, snap.schemaJson.get,
        snap.configuration + (key -> value),
        partitionColumns = snap.partitionColumns))
    // enabling the universal format generates the face immediately
    maybeUniform(spark, table, v, snap.configuration + (key -> value))
    v
  }

  def commit(spark: SparkSession, table: String, df: DataFrame,
             overwrite: Boolean = false, operation: String = "",
             replacing: Option[Seq[String]] = None,
             columnMapping: Boolean = false,
             txn: Option[(String, Long)] = None,
             cdc: Option[DataFrame] = None,
             partitionBy: Seq[String] = Nil): Long =
    commitOn(spark, table,
      if (versions(spark, table).isEmpty) None else Some(snapshot(spark, table)),
      df, overwrite, operation, replacing, columnMapping, txn, cdc, partitionBy)

  /** [[commit]] on the snapshot `prev` the caller already resolved (None:
    * a new table): publishes version `prev.version + 1`, and fails if
    * another writer took that version meanwhile ([[publishCommit]]).
    */
  private def commitOn(spark: SparkSession, table: String,
                       prev: Option[Snapshot], df: DataFrame,
                       overwrite: Boolean = false, operation: String = "",
                       replacing: Option[Seq[String]] = None,
                       columnMapping: Boolean = false,
                       txn: Option[(String, Long)] = None,
                       cdc: Option[DataFrame] = None,
                       partitionBy: Seq[String] = Nil): Long = {
    val v = prev.map(_.version + 1).getOrElse(0L)
    val removed: Seq[String] = replacing.getOrElse(
      if (overwrite) prev.map(_.files).getOrElse(Nil) else Nil)
    prev.foreach(p => requireWritable(table, p,
      removesFiles = removed.nonEmpty))
    // enforce the table's declared write contracts (CHECK constraints,
    // invariants, generated + identity columns) on the incoming batch;
    // a moved identity watermark forces a metaData re-emission. A full
    // overwrite REPLACES the schema (and the column features riding its
    // metadata, REPLACE TABLE-style) but the configuration carries, so
    // its CHECK constraints still validate the new data
    val (dfE, featureMeta) = enforceTableFeatures(spark, table, df, prev,
      schemaReplaced = overwrite && replacing.isEmpty,
      rewrite = replacing.nonEmpty)
    // Column mapping is sticky: once a table is mapped, every later
    // commit keeps writing physical names (a mixed table would be
    // unreadable); `columnMapping = true` turns it on at creation/
    // overwrite. The logical schema carries the mapping metadata
    // (physicalName + id per field, spec keys), data files are written
    // under the physical names, and metaData gains the mode + maxColumnId
    // configuration.
    val prevConf = prev.map(_.configuration).getOrElse(Map.empty)
    val prevMapped = mappingMode(prevConf) != "none"
    val mapped = prevMapped || columnMapping
    val (tableSchema, writeDf, conf) = resolveWriteFrame(
      table, dfE, prev, overwrite, replacing, mapped)
    val schemaChanged = featureMeta || prev.flatMap(_.schemaJson).exists(j =>
      stripMapping(DataType.fromJson(j).asInstanceOf[StructType]).json
        != stripMapping(dfE.schema).json)
    // hive-style partitioning: columns live in the dirs/log, not the
    // data files. The layout is sticky per table — appends must keep it
    // (a mixed layout would read some rows without their partition
    // values); overwrites may change it. Mapped + partitioned is
    // refused (physical dir names would leak into the logical layout).
    val prevPartCols = prev.map(_.partitionColumns).getOrElse(Nil)
    val partCols: Seq[String] =
      if (overwrite || prev.isEmpty) partitionBy
      else if (partitionBy.nonEmpty) partitionBy
      else prevPartCols
    require(!mapped || partCols.isEmpty,
      s"$table: partitioned + column-mapped tables are not supported")
    require(prev.isEmpty || overwrite || prevPartCols == partCols,
      s"$table: append must keep the partition layout $prevPartCols " +
        s"(got $partCols) — overwrite to change it")
    partCols.foreach(c => require(dfE.schema.fieldNames.contains(c),
      s"$table: partition column $c not in the frame"))

    val named = stageParts(spark, table, writeDf, s"v$v", f"part-$v%05d",
      partitionBy = partCols)
    // row tracking: fresh base row ids past the high watermark for every
    // new file (rewrites get FRESH ids — the spec's non-materialized
    // semantics; merge-on-read DV deletes never touch files, so their
    // surviving ids stay stable). Counts come from the add-stats this
    // writer always records — no extra I/O.
    val tracking = prev.exists(rowTrackingOn)
    var rowIdWatermark: Option[Long] = None
    val rowIdsOf: Map[String, (Long, Long)] =
      if (!tracking) Map.empty
      else {
        var next = prev.flatMap(rowIdHighWaterMark).map(_ + 1).getOrElse(0L)
        val assigned = named.map { case (p, _, statsJson, _) =>
          val n = statsJson.flatMap(j =>
            Option(mapper.readTree(j).get("numRecords")).map(_.asLong()))
            .getOrElse(sys.error(
              s"$table: row tracking needs numRecords stats for $p"))
          val e = p -> ((next, v))
          next += n
          e
        }.toMap
        if (named.nonEmpty) rowIdWatermark = Some(next - 1)
        assigned
      }
    // CDF channel: land the per-commit change rows under _change_data/
    // (they are NOT data files — only cdc actions reference them)
    val cdcNamed: Seq[(String, Long)] = cdc.toSeq.flatMap { cdf =>
      val root = new Path(table)
      val f = fs(spark, root)
      val staging = new Path(root, s".staging-cdc-v$v")
      cdf.write.mode("overwrite").parquet(staging.toString)
      val parts = f.listStatus(staging).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet"))
      f.mkdirs(new Path(root, "_change_data"))
      val out = parts.zipWithIndex.map { case (p, i) =>
        val rel = f"_change_data/cdc-$v%05d-$i%05d.parquet"
        require(f.rename(p, new Path(root, rel)), s"cdc rename failed: $p")
        (rel, f.getFileStatus(new Path(root, rel)).getLen)
      }
      f.delete(staging, true)
      out
    }
    publishCommit(spark, table, v, actionsFor(
      v, overwrite, operation,
      emitMeta = v == 0L || overwrite || schemaChanged,
      tableSchema, conf, removed, named, txn, cdcNamed, partCols,
      emitProtocol = v == 0L || (overwrite && mapped && !prevMapped),
      upgradeFrom = prev,
      rowIdsOf = rowIdsOf, rowIdWatermark = rowIdWatermark))
    maybeAutoCheckpoint(spark, table, v, conf)
    maybeUniform(spark, table, v, conf)
    v
  }

  /** `delta.universalFormat.enabledFormats` containing `iceberg` — the
    * UNIVERSAL-FORMAT face: every data commit regenerates Iceberg
    * metadata (`metadata/` beside `_delta_log/`, same parquet files —
    * zero data copies), so Iceberg-only readers follow the table.
    * Delta stays the source of truth; the face carries the CURRENT
    * state plus its own snapshot history (prior syncs stay listed until
    * `expireSnapshots`). States the Iceberg face cannot express —
    * live deletion vectors, column mapping, hive partitioning — skip
    * the sync; the next expressible commit catches the face up. Sync
    * failure never fails the Delta commit; it is logged.
    */
  private[graft] def uniformEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.universalFormat.enabledFormats")
      .exists(_.toLowerCase.contains("iceberg"))

  private def maybeUniform(spark: SparkSession, table: String, v: Long,
                           conf: Map[String, String]): Unit =
    if (uniformEnabled(conf))
      try {
        val s = snapshot(spark, table)
        if (s.dvs.isEmpty && mappingMode(s.configuration) == "none" &&
            s.partitionColumns.isEmpty && s.schemaJson.nonEmpty) {
          val schema =
            DataType.fromJson(s.schemaJson.get).asInstanceOf[StructType]
          val root = new Path(table)
          // numRecords from the add-stats Delta already wrote — the
          // sync opens ZERO parquet footers (one fs stat per file for
          // sizes is all; bounds are omitted, face scans stay exact,
          // just unpruned)
          val counts: Map[String, Long] = s.stats.flatMap { case (p, j) =>
            (try Option(mapper.readTree(j).get("numRecords"))
              .map(_.asLong())
            catch { case scala.util.control.NonFatal(_) => None })
              .map(n => new Path(root, p).toString -> n)
          }
          IcebergLite.addFilesCommit(spark, table, schema,
            s.files.map(p => new Path(root, p).toString), sync = true,
            knownCounts = counts)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        log.warn(s"$table: iceberg face sync at v$v failed: $e")
      }

  /** `delta.checkpointInterval` — when the table declares it, every
    * n-th commit lands a checkpoint so REPLAY COST STAYS BOUNDED without
    * anyone scheduling maintenance: a year of streaming micro-batches on
    * an interval-10 table replays ≤10 JSON commits from the newest
    * checkpoint instead of the whole log. Exercised on the data-commit
    * path ([[commit]] — what streaming sinks and ingest loops drive);
    * maintenance verbs checkpoint explicitly. Failure here must NOT
    * fail the commit (the data is already durable; the next interval
    * catches up).
    */
  private def maybeAutoCheckpoint(spark: SparkSession, table: String,
                                  v: Long,
                                  conf: Map[String, String]): Unit =
    conf.get("delta.checkpointInterval").flatMap(s =>
      scala.util.Try(s.trim.toInt).toOption).filter(_ > 0).foreach { n =>
      if (v > 0 && v % n == 0)
        try checkpoint(spark, table)
        catch { case scala.util.control.NonFatal(e) =>
          log.warn(s"$table: auto-checkpoint at v$v failed: $e")
        }
    }

  /** Validation + the (metaData schema, physically-named frame,
    * configuration) triple shared by [[commit]] and [[commitContended]].
    */
  private def resolveWriteFrame(table: String, df: DataFrame,
                                prev: Option[Snapshot], overwrite: Boolean,
                                replacing: Option[Seq[String]],
                                mapped: Boolean)
      : (StructType, DataFrame, Map[String, String]) = {
    val prevConf = prev.map(_.configuration).getOrElse(Map.empty)
    val prevSchema: Option[StructType] = prev.flatMap(_.schemaJson)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    // append-time schema drift: ADDITIVE evolution (every existing column
    // kept, same type) updates the table schema — old files read with
    // nulls for the new columns; anything else is REFUSED (a silent
    // accept would corrupt the schema contract). Overwrites may replace
    // the schema freely. Mapped tables compare LOGICAL shape (names +
    // types; the incoming frame never carries mapping metadata).
    val schemaChanged = prevSchema.exists(ps =>
      stripMapping(ps).json != df.schema.json)
    if (!overwrite && schemaChanged) {
      val missing = prevSchema.get.fields.filterNot(pf =>
        df.schema.fields.exists(nf =>
          nf.name == pf.name && nf.dataType == stripMappingType(pf.dataType)))
      require(missing.isEmpty,
        s"$table: append schema drops/retypes columns " +
          s"${missing.map(_.name).mkString(", ")} — only additive " +
          "evolution is allowed on append (overwrite to replace the schema)")
    }
    // table properties (CDF flag, appendOnly, user keys) persist across
    // commits — a metaData re-emission (schema evolution, overwrite) must
    // carry the previous configuration forward, not silently reset it
    if (!mapped) (df.schema, df, prevConf)
    else {
      val startId = prevConf.get(MaxColumnIdKey).map(_.toInt).getOrElse(0)
      val keepPrev = prevSchema.filter(_ => !overwrite || replacing.isDefined)
      val (ls, maxId) = mappedLogicalSchema(df.schema, keepPrev, startId)
      val ps = physicalSchema(ls)
      val physDf = df.select(ls.fields.zip(ps.fields).map {
        case (lf, pf) => toLogical(df(s"`${lf.name}`"), lf.dataType,
          pf.dataType).as(pf.name)
      }.toIndexedSeq: _*)
      (ls, physDf, prevConf ++ Map(MappingModeKey -> "name",
        MaxColumnIdKey -> maxId.toString))
    }
  }

  /** Land `writeDf` under a staging dir, then move parts to
    * `namePrefix`-named files — at the root, or (partitioned commits)
    * under their hive `col=value/` dirs, preserved relative to the root
    * (the log, not the directory listing, defines the table either
    * way). Returns (relative path, size, statsJson, partitionValues)
    * per part.
    */
  private def stageParts(spark: SparkSession, table: String,
                         writeDf: DataFrame, stageId: String,
                         namePrefix: String,
                         partitionBy: Seq[String] = Nil)
      : Seq[(String, Long, Option[String], Map[String, String])] =
    DataFiles.stage(spark, new Path(table), writeDf, stageId,
      partitionBy) { (i, relDir) =>
      val name = f"$namePrefix-$i%05d.parquet"
      if (relDir.isEmpty) name else s"$relDir/$name"
    }.map(sf => (sf.rel, sf.size, sf.stats.map(statsJson), sf.partition))

  /** One commit's NDJSON action block. `emitProtocol` gates the
    * protocol action INSIDE an emitMeta commit: only creation and
    * genuine upgrades (mapping turned on at overwrite) write one —
    * re-emitting on a schema-evolving append would replace (and
    * possibly downgrade) a stronger declared protocol.
    */
  private def actionsFor(v: Long, overwrite: Boolean, operation: String,
                         emitMeta: Boolean, tableSchema: StructType,
                         conf: Map[String, String], removed: Seq[String],
                         named: Seq[(String, Long, Option[String], Map[String, String])],
                         txn: Option[(String, Long)] = None,
                         cdcFiles: Seq[(String, Long)] = Nil,
                         partitionColumns: Seq[String] = Nil,
                         emitProtocol: Boolean = true,
                         upgradeFrom: Option[Snapshot] = None,
                         rowIdsOf: Map[String, (Long, Long)] = Map.empty,
                         rowIdWatermark: Option[Long] = None): String = {
    val ts = 0L // deterministic logs: wall-clock stamps add nothing here
    val op = if (operation.nonEmpty) operation
      else if (overwrite) "OVERWRITE" else "WRITE"
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":${mapper.writeValueAsString(op)},"timestamp":$ts}}""")
      .append('\n')
    txn.foreach { case (appId, tv) =>
      sb.append(s"""{"txn":{"appId":${mapper.writeValueAsString(appId)},"version":$tv,"lastUpdated":$ts}}""")
        .append('\n')
    }
    if (emitMeta) {
      if (emitProtocol)
        sb.append(protocolAndMetaData(v, tableSchema.json, conf,
          partitionColumns = partitionColumns, upgradeFrom = upgradeFrom))
      else
        sb.append(metaDataJson(v, tableSchema.json, conf, partitionColumns))
    }
    removed.foreach { p =>
      val pj = mapper.writeValueAsString(p)
      sb.append(s"""{"remove":{"path":$pj,"deletionTimestamp":$ts,"dataChange":true}}""")
        .append('\n')
    }
    named.foreach { case (p, size, stats, pv) =>
      val pj = mapper.writeValueAsString(p)
      val statsField = stats.map(s =>
        s""","stats":${mapper.writeValueAsString(s)}""").getOrElse("")
      val rowField = rowIdsOf.get(p).map { case (b, ver) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$ver"""
      }.getOrElse("")
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":${pvJsonOf(pv)},"modificationTime":$ts,"dataChange":true$statsField$rowField}}""")
        .append('\n')
    }
    rowIdWatermark.foreach { hw =>
      val confJson = mapper.writeValueAsString(
        s"""{"rowIdHighWaterMark":$hw}""")
      sb.append(s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":$confJson,"removed":false}}""")
        .append('\n')
    }
    cdcFiles.foreach { case (p, size) =>
      val pj = mapper.writeValueAsString(p)
      sb.append(s"""{"cdc":{"path":$pj,"partitionValues":{},"size":$size,"dataChange":false}}""")
        .append('\n')
    }
    sb.toString
  }

  /** OPTIMISTIC-CONCURRENCY commit — the multi-writer publish loop the
    * single-writer contract (object scaladoc) deferred to a commit
    * service: stage data ONCE (part names carry a writer-unique token,
    * so two racing writers can never clobber each other's files), then
    * publish at the current tip + 1 via PUT-IF-ABSENT; on losing the
    * race, read what the winner(s) committed and decide:
    *
    *  - blind APPEND (no `replacing`, no overwrite): safe to rebase to
    *    the new tip and re-publish (no data is re-written) — UNLESS a
    *    winner changed table metaData (schema/config), which invalidates
    *    our schema resolution → ConcurrentModificationException, caller
    *    re-runs against the new tip (MetadataChangedException-style).
    *  - OVERWRITE: semantically "replace whatever is current" — rebase
    *    recomputes the remove set against the new tip and re-publishes;
    *    the winner's files are explicitly removed, nothing is silently
    *    lost from the log's perspective.
    *  - READ-MODIFY-WRITE (`replacing` defined — the selectiveMerge/
    *    selectiveDelete shape): our rewrite was derived from a snapshot
    *    that is no longer the tip; if any winning commit CHANGED DATA
    *    (added or removed files with dataChange), the merge result may
    *    be stale → ConcurrentModificationException, and the CALLER
    *    re-runs the read-modify-write against the new tip (the standard
    *    OCC contract, conflict-checked at file level like Delta's own
    *    disjoint-files rule). Metadata-only winners (protocol upgrades)
    *    rebase fine.
    *
    * The put-if-absent primitive is [[publishCommitIfAbsent]]:
    * FileContext.rename with Rename.NONE — atomic no-overwrite on
    * HDFS-class stores; check-then-rename on the raw local FS, the same
    * per-store trade the real implementation makes.
    */
  def commitContended(spark: SparkSession, table: String, df: DataFrame,
                      overwrite: Boolean = false, operation: String = "",
                      replacing: Option[Seq[String]] = None,
                      columnMapping: Boolean = false,
                      maxRetries: Int = 5,
                      raceSeam: () => Unit = () => ()): Long = {
    val vs0 = versions(spark, table)
    val prev0: Option[Snapshot] =
      if (vs0.isEmpty) None else Some(snapshot(spark, table))
    require(prev0.forall(_.partitionColumns.isEmpty),
      s"$table: contended commits on a partitioned table are not " +
        "supported — use commit() (single-writer) there")
    prev0.foreach(p => requireWritable(table, p,
      removesFiles = overwrite || replacing.isDefined))
    // identity assignment is inherently single-writer (two racers would
    // hand out the same range from the same watermark) — contended
    // commits refuse identity tables; other contracts enforce normally
    require(!prev0.flatMap(_.schemaJson).exists(_.contains(IdStartKey)),
      s"$table: identity-column tables are single-writer — use commit()")
    // same race: two contended appenders would assign the same row-id
    // range from the same watermark
    require(!prev0.exists(rowTrackingOn),
      s"$table: row-tracking tables are single-writer — use commit()")
    val (dfEc, _) = enforceTableFeatures(spark, table, df, prev0,
      schemaReplaced = overwrite && replacing.isEmpty,
      rewrite = replacing.nonEmpty)
    val mapped = columnMapping ||
      prev0.exists(p => mappingMode(p.configuration) != "none")
    val (tableSchema, writeDf, conf) = resolveWriteFrame(
      table, dfEc, prev0, overwrite, replacing, mapped)
    // writer-unique part names: content cannot collide across racers
    val token = java.util.UUID.randomUUID().toString.take(8)
    val named = stageParts(spark, table, writeDf, s"c-$token", s"part-$token")
    // test seam: deterministic race injection — fires after the base
    // snapshot is resolved and data staged, before the publish loop (the
    // window a concurrent winner lands in). No-op in production.
    raceSeam()

    var attempt = 0
    var base = prev0
    while (attempt <= maxRetries) {
      val v = base.map(_.version + 1).getOrElse(0L)
      // read-modify-write liveness: every file this commit replaces must
      // still be live at the tip — a winner that slipped in BEFORE our
      // base read (or between retries) invalidates the rewrite even
      // without a version collision
      replacing.foreach { r =>
        val live = base.map(_.files.toSet).getOrElse(Set.empty)
        if (!r.forall(live.contains))
          throw new java.util.ConcurrentModificationException(
            s"$table: files this rewrite replaces are no longer live — " +
              "re-run the read-modify-write against the new tip")
      }
      val removed: Seq[String] = replacing.getOrElse(
        if (overwrite) base.map(_.files).getOrElse(Nil) else Nil)
      val schemaChanged = base.flatMap(_.schemaJson).exists(j =>
        stripMapping(DataType.fromJson(j).asInstanceOf[StructType]).json
          != stripMapping(dfEc.schema).json)
      val actions = actionsFor(v, overwrite, operation,
        emitMeta = v == 0L || overwrite || schemaChanged,
        tableSchema, conf, removed, named,
        emitProtocol = v == 0L ||
          (overwrite && mapped && prev0.forall(p =>
            mappingMode(p.configuration) == "none")),
        upgradeFrom = base)
      if (publishCommitIfAbsent(spark, table, v, actions)) {
        // the multi-writer ingest path gets the same post-commit
        // maintenance as commit(): bounded replay via
        // delta.checkpointInterval and the universal-format face
        maybeAutoCheckpoint(spark, table, v, conf)
        maybeUniform(spark, table, v, conf)
        return v
      }
      // lost the race: inspect every commit that beat us
      val f = fs(spark, logDir(table))
      val tip = versions(spark, table).last
      val winnerActions = (v to tip).flatMap { wv =>
        readActions(f, commitFile(table, wv))
      }
      val winnersChangedData = winnerActions.exists(a =>
        (a.has("add") && a.get("add").path("dataChange").asBoolean(true)) ||
          (a.has("remove") && a.get("remove").path("dataChange").asBoolean(true)))
      if (replacing.isDefined && winnersChangedData)
        throw new java.util.ConcurrentModificationException(
          s"$table: version $v was committed concurrently with data " +
            "changes — re-run the read-modify-write against the new tip")
      // MetadataChanged conflict: our schema/config was resolved against
      // the base we started from; a winner that published a DIFFERENT
      // metaData (e.g. additive evolution) invalidates that resolution —
      // a blind rebase would re-emit the stale schema on any retry where
      // emitMeta fires, silently reverting the winner's change and hiding
      // its column's data. Identical metaData (two racers creating the
      // same table) rebases fine, and an OVERWRITE is exempt — replacing
      // the current schema is exactly its contract, not a silent revert.
      val winnerMetaConflicts = !overwrite && winnerActions.exists { a =>
        a.has("metaData") && {
          val m = a.get("metaData")
          m.path("schemaString").asText("") != tableSchema.json
        }
      }
      if (winnerMetaConflicts)
        throw new java.util.ConcurrentModificationException(
          s"$table: version $v lost the race to a commit that changed " +
            "table metadata — re-resolve against the new tip and retry")
      base = Some(snapshot(spark, table))
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: lost the publish race $maxRetries times — giving up")
  }

  /** Publish version `v` only if no writer has taken it: write to a
    * writer-unique dot-tmp, then claim the final name atomically —
    * [[atomicClaim]]. Returns false when `v` already exists.
    */
  private[graft] def publishCommitIfAbsent(spark: SparkSession, table: String,
                                           v: Long, actionsNdjson: String): Boolean = {
    val f = fs(spark, logDir(table))
    f.mkdirs(logDir(table))
    val target = commitFile(table, v)
    if (f.exists(target)) return false
    // ICT injects per ATTEMPT: a retry at a new version re-reads the new
    // tip, so the stamp stays monotonic past the commit that won the race
    val stamped = withIct(spark, table, v, actionsNdjson)
    val tmp = new Path(logDir(table),
      s".v$v-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    val out = f.create(tmp, true)
    try out.write(stamped.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    atomicClaim(spark, f, tmp, target)
  }

  /** Atomically give `tmp`'s content the name `dst`, failing (false) if
    * `dst` exists — the put-if-absent primitive a filesystem commit
    * service is built on. On `file:` stores this is a HARD LINK
    * (link(2) fails EEXIST atomically — a check-then-rename would race,
    * which a latch-aligned spec actually caught); on HDFS-class stores
    * it is FileContext rename with Rename.NONE, atomic no-overwrite by
    * the store's own contract. `tmp` is always removed.
    */
  private[graft] def atomicClaim(spark: SparkSession, f: FileSystem,
                                 tmp: Path, dst: Path): Boolean = {
    val qualified = f.makeQualified(dst)
    val isLocal = qualified.toUri.getScheme match {
      case null | "file" => true
      case _             => false
    }
    try {
      if (isLocal) {
        val srcNio = java.nio.file.Paths.get(
          f.makeQualified(tmp).toUri.getPath)
        val dstNio = java.nio.file.Paths.get(qualified.toUri.getPath)
        java.nio.file.Files.createLink(dstNio, srcNio)
        f.delete(tmp, false)
      } else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          qualified.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(dst),
          org.apache.hadoop.fs.Options.Rename.NONE)
      }
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false); false
      case _: java.io.IOException if f.exists(dst) =>
        f.delete(tmp, false); false
    }
  }

  // ------------------------------------------- in-commit timestamps (ICT)
  /** `delta.enableInCommitTimestamps` — the `inCommitTimestamp` writer
    * feature modern engines enable by default: the authoritative commit
    * time lives INSIDE the leading commitInfo (strictly monotonic per
    * table) instead of in filesystem mtimes, which object stores rewrite
    * on copy/migration and which go BACKWARD under clock skew across
    * writers. TIMESTAMP AS OF resolves over these stamps when present
    * ([[readAsOf]]).
    */
  val IctProperty = "delta.enableInCommitTimestamps"
  private val IctEnablementVersionKey =
    "delta.inCommitTimestampEnablementVersion"
  private val IctEnablementTimestampKey =
    "delta.inCommitTimestampEnablementTimestamp"

  /** Inject the monotonic `inCommitTimestamp` into a commit's leading
    * commitInfo when the table runs ICT. Called on EVERY publish path —
    * a single missing stamp on an enabled table breaks the spec's
    * monotonic-resolution contract for all other engines. Enablement is
    * detected from (a) this commit's own metaData (a metaData action
    * replaces the configuration wholesale, so its property state is
    * authoritative from here on), else (b) the tip commit's own stamp
    * (every commit on an enabled table carries one — one bounded log
    * read, no snapshot replay). Floor = tip stamp + 1; wall clock wins
    * when it is ahead. A commitInfo that ALREADY carries the field
    * passes through verbatim ([[enableInCommitTimestamps]] pins its own
    * stamp so the enablement property can record it exactly).
    */
  private def withIct(spark: SparkSession, table: String, v: Long,
                      actionsNdjson: String): String = {
    // cheap pre-filters keep the common non-ICT paths at string-scan
    // cost — a 10^4-add commit must not pay 10^4 JSON parses here
    val ownMeta: Option[Boolean] =
      if (!actionsNdjson.contains("\"metaData\"")) None
      else actionsNdjson.linesIterator.filter(_.contains("\"metaData\""))
        .map(mapper.readTree).find(_.has("metaData"))
        .map(n => Option(n.get("metaData").get("configuration"))
          .flatMap(c => Option(c.get(IctProperty)))
          .exists(_.asText().equalsIgnoreCase("true")))
    if (ownMeta.contains(false)) return actionsNdjson
    lazy val lines = actionsNdjson.linesIterator.filter(_.nonEmpty).toVector
    lazy val tipIct: Option[Long] =
      if (v == 0) None
      else {
        val f = fs(spark, logDir(table))
        val tf = commitFile(table, v - 1)
        if (!f.exists(tf)) None
        else {
          // commitInfo is the FIRST action on every ICT commit (the
          // spec requires it; this writer always leads with it) — read
          // ONE line, not the whole commit: after a 10^4-add commit the
          // next publish must not pay 10^4 JSON parses here
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(f.open(tf),
              StandardCharsets.UTF_8))
          val first = try in.readLine() finally in.close()
          Option(first).filter(_.contains("\"commitInfo\""))
            .map(mapper.readTree)
            .filter(_.has("commitInfo"))
            .flatMap(ci => Option(
              ci.get("commitInfo").get("inCommitTimestamp"))
              .map(_.asLong()))
        }
      }
    val enabled = ownMeta.getOrElse(tipIct.isDefined)
    if (!enabled) return actionsNdjson
    val ciIdx = lines.indexWhere(l => l.contains("\"commitInfo\"") &&
      mapper.readTree(l).has("commitInfo"))
    if (ciIdx >= 0 &&
        mapper.readTree(lines(ciIdx)).get("commitInfo")
          .has("inCommitTimestamp"))
      return actionsNdjson
    val t = math.max(System.currentTimeMillis(),
      tipIct.fold(Long.MinValue)(_ + 1L))
    val stamped =
      if (ciIdx < 0)
        s"""{"commitInfo":{"operation":"WRITE","timestamp":$t,"inCommitTimestamp":$t}}"""
      else {
        val ci = mapper.readTree(lines(ciIdx))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        ci.get("commitInfo")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("inCommitTimestamp", t)
        mapper.writeValueAsString(ci)
      }
    // the spec requires commitInfo FIRST on ICT tables
    (stamped +: lines.patch(math.max(ciIdx, 0),
      Nil, if (ciIdx < 0) 0 else 1)).mkString("", "\n", "\n")
  }

  /** Enable in-commit timestamps: protocol upgrade to the
    * `inCommitTimestamp` writer feature plus the enablement properties
    * the spec pins (`...EnablementVersion`/`...EnablementTimestamp` —
    * the boundary below which TIMESTAMP AS OF falls back to legacy
    * commitInfo timestamps). The enablement commit carries the FIRST
    * stamp, equal by construction to the recorded enablement timestamp.
    */
  def enableInCommitTimestamps(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    require(!snap.configuration.get(IctProperty)
        .exists(_.equalsIgnoreCase("true")),
      s"$table: in-commit timestamps already enabled")
    val v = snap.version + 1
    val t = System.currentTimeMillis()
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"ENABLE IN-COMMIT TIMESTAMPS","timestamp":$t,"inCommitTimestamp":$t}}""" +
        "\n" + writerFeatureUpgradeJson(snap, Set("inCommitTimestamp")) +
        "\n" + metaDataJson(v, snap.schemaJson.get,
        snap.configuration ++ Map(
          IctProperty -> "true",
          IctEnablementVersionKey -> v.toString,
          IctEnablementTimestampKey -> t.toString),
        partitionColumns = snap.partitionColumns))
    v
  }

  /** Publish one JSON actions file as version `v`, claiming the version
    * put-if-absent ([[publishCommitIfAbsent]]): readers never see a
    * partial commit, and a version another writer already took fails
    * here instead of being replaced (a plain `FileSystem.rename` onto an
    * existing local file overwrites it and reports success).
    */
  private[graft] def publishCommit(spark: SparkSession, table: String,
                                   v: Long, actionsNdjson: String): Unit =
    if (!publishCommitIfAbsent(spark, table, v, actionsNdjson))
      throw new java.util.ConcurrentModificationException(
        s"$table: version $v is already committed by another writer — " +
          "re-run the operation against the new tip")

  private val MaxColumnIdKey = "delta.columnMapping.maxColumnId"

  /** Strip column-mapping metadata from a schema (for logical-shape
    * comparison against an incoming frame, which never carries it).
    */
  private def stripMapping(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(
      dataType = stripMappingType(f.dataType),
      metadata = org.apache.spark.sql.types.Metadata.empty)))

  private def stripMappingType(dt: DataType): DataType = dt match {
    case st: StructType   => stripMapping(st)
    case ArrayType(e, n)  => ArrayType(stripMappingType(e), n)
    case MapType(k, v, n) => MapType(stripMappingType(k), stripMappingType(v), n)
    case o                => o
  }

  /** The logical schema with mapping metadata: fields present in the
    * previous table schema KEEP their ids/physical names (stability is
    * the whole point of mapping — renames must not touch data); new
    * fields get fresh ids (`col-<id>` physical names) past the table's
    * maxColumnId. Nested struct fields are numbered too, spec-style.
    */
  private def mappedLogicalSchema(incoming: StructType,
                                  prev: Option[StructType],
                                  startId: Int): (StructType, Int) = {
    var nextId = startId
    def freshMeta(base: org.apache.spark.sql.types.Metadata) = {
      nextId += 1
      new org.apache.spark.sql.types.MetadataBuilder().withMetadata(base)
        .putLong(ColumnIdKey, nextId.toLong)
        .putString(PhysicalNameKey, s"col-$nextId").build()
    }
    def assign(dt: DataType, prevDt: Option[DataType]): DataType = (dt, prevDt) match {
      case (st: StructType, p) =>
        val prevFields = p.collect { case ps: StructType => ps }
          .map(_.fields.map(f => f.name -> f).toMap).getOrElse(Map.empty)
        StructType(st.fields.map { f =>
          prevFields.get(f.name) match {
            case Some(pf) if pf.metadata.contains(PhysicalNameKey) =>
              f.copy(metadata = pf.metadata,
                dataType = assign(f.dataType, Some(pf.dataType)))
            case other =>
              f.copy(metadata = freshMeta(f.metadata),
                dataType = assign(f.dataType, other.map(_.dataType)))
          }
        })
      case (ArrayType(e, n), p) =>
        ArrayType(assign(e, p.collect { case ArrayType(pe, _) => pe }), n)
      case (MapType(k, vv, n), p) =>
        MapType(assign(k, p.collect { case MapType(pk, _, _) => pk }),
          assign(vv, p.collect { case MapType(_, pv, _) => pv }), n)
      case (o, _) => o
    }
    val out = assign(incoming, prev).asInstanceOf[StructType]
    (out, nextId)
  }

  private def protocolAndMetaData(v: Long, schemaJson: String,
                                  conf: Map[String, String] = Map.empty,
                                  withDvFeature: Boolean = false,
                                  partitionColumns: Seq[String] = Nil,
                                  upgradeFrom: Option[Snapshot] = None): String = {
    val mapped = conf.get(MappingModeKey).exists(_ != "none")
    // a table already on v7 table features must never be downgraded to a
    // legacy protocol by a later upgrade commit (e.g. mapping turned on
    // after a DV delete): per the spec the LATEST protocol action wins,
    // so the new action unions the declared feature lists with whatever
    // this commit adds instead of replacing them
    val prevV7 = upgradeFrom.filter(_.minWriterVersion >= 7)
    val protocol =
      if (withDvFeature || prevV7.nonEmpty) {
        val added = (if (withDvFeature) Set("deletionVectors") else Set.empty[String]) ++
          (if (mapped) Set("columnMapping") else Set.empty[String])
        def lst(s: Set[String]) =
          s.toSeq.sorted.map(mapper.writeValueAsString).mkString(",")
        val rf = lst(prevV7.map(_.readerFeatures).getOrElse(Set.empty) ++ added)
        val wf = lst(prevV7.map(_.writerFeatures).getOrElse(Set.empty) ++ added)
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$rf],"writerFeatures":[$wf]}}"""
      } else if (mapped)
        s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      else
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    protocol + "\n" +
      metaDataJson(v, schemaJson, conf, partitionColumns)
  }

  /** The metaData action ALONE — what schema/config/property changes on
    * an EXISTING table emit. Re-emitting a protocol action there would
    * REPLACE the table's declared protocol and silently downgrade a
    * stronger foreign one (v7 feature lists); per the spec the latest
    * protocol wins, so only creation (and genuine upgrades, e.g. the DV
    * path) may write one.
    */
  private def metaDataJson(v: Long, schemaJson: String,
                           conf: Map[String, String],
                           partitionColumns: Seq[String] = Nil): String = {
    val sj = mapper.writeValueAsString(schemaJson)
    val confJson = "{" + conf.toSeq.sortBy(_._1).map { case (k, vv) =>
      s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(vv)}"
    }.mkString(",") + "}"
    val pcJson = partitionColumns.map(mapper.writeValueAsString)
      .mkString("[", ",", "]")
    s"""{"metaData":{"id":"graft-$v","format":{"provider":"parquet"},"schemaString":$sj,"partitionColumns":$pcJson,"configuration":$confJson}}""" + "\n"
  }

  /** SHALLOW CLONE — the zero-copy table copy (Databricks' `CREATE TABLE
    * ... SHALLOW CLONE`): the clone's first commit REFERENCES the source
    * snapshot's data files in place via absolute paths (protocol-legal),
    * so cloning a 100 TB table is a metadata-only driver operation.
    * Copy-on-write divergence comes free: any later MERGE/DELETE/
    * OPTIMIZE on the clone rewrites into the clone's own root and drops
    * only REFERENCES — the source is never touched, and the clone's
    * [[vacuum]] deletes only under its own root so it cannot reap source
    * data. Add-stats carry over, so [[readWhere]]/[[selectiveMerge]]
    * skipping works on the clone from commit 0. The format's own caveat,
    * stated: the clone references rather than owns — vacuuming the
    * SOURCE past the cloned snapshot breaks the clone, exactly as with
    * the real implementation.
    */
  def shallowClone(spark: SparkSession, src: String, dst: String,
                   version: Option[Long] = None): Long = {
    require(versions(spark, dst).isEmpty, s"$dst: already a table")
    val s = snapshot(spark, src, version)
    require(s.schemaJson.nonEmpty, s"$src: no metaData in log")
    val srcRoot = fs(spark, new Path(src))
      .makeQualified(new Path(src))
    val f = fs(spark, srcRoot)
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":"CLONE","timestamp":0}}""")
      .append('\n')
    sb.append(protocolAndMetaData(0L, s.schemaJson.get, s.configuration,
      withDvFeature = s.dvs.nonEmpty,
      partitionColumns = s.partitionColumns))
    s.files.foreach { p =>
      val abs = new Path(srcRoot, p)
      val pj = mapper.writeValueAsString(abs.toString)
      val size = f.getFileStatus(abs).getLen
      val pvField = pvJsonOf(s.partitionValues.getOrElse(p, Map.empty))
      val statsField = s.stats.get(p).map(st =>
        s""","stats":${mapper.writeValueAsString(st)}""").getOrElse("")
      // DV descriptors carry over: table-root-relative ("u") descriptors
      // re-anchor to the SOURCE root as absolute ("p") references —
      // protocol-legal, and the only reading that keeps the clone's
      // masked rows masked (inline "i" carries verbatim)
      val dvField = s.dvs.get(p).map { dj =>
        val d = parseDv(dj)
        val rebased =
          if (d.storageType == "u") d.copy(storageType = "p",
            pathOrInlineDv =
              DeletionVectors.dvFilePath(srcRoot, d).toString)
          else d
        s""","deletionVector":${dvJson(rebased)}"""
      }.getOrElse("")
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":$pvField,"modificationTime":0,"dataChange":false$statsField$dvField}}""")
        .append('\n')
    }
    publishCommit(spark, dst, 0L, sb.toString)
    0L
  }

  /** One add action's partitionValues object. */
  private def pvJsonOf(pv: Map[String, String]): String =
    "{" + pv.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${mapper.writeValueAsString(k)}:${
        if (v == null) "null" else mapper.writeValueAsString(v)}"
    }.mkString(",") + "}"

  /** METADATA-ONLY table creation over EXISTING parquet files — the
    * Delta half of zero-copy format conversion ([[FormatConvert]]):
    * commit 0 of a NEW table whose `add` actions reference `files` in
    * place via absolute paths (the shallowClone referencing shape), with
    * full add-stats computed from the parquet FOOTERS so data skipping
    * works on the converted table from version 0. No data moves.
    */
  def addFilesCommit(spark: SparkSession, table: String,
                     schema: StructType, files: Seq[String]): Long = {
    require(versions(spark, table).isEmpty, s"$table: already a table")
    val f = fs(spark, new Path(table))
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":"CONVERT","timestamp":0}}""")
      .append('\n')
    sb.append(protocolAndMetaData(0L, schema.json))
    files.foreach { p =>
      val qualified = f.makeQualified(new Path(p))
      val pj = mapper.writeValueAsString(qualified.toString)
      val size = f.getFileStatus(qualified).getLen
      val statsField = DataFiles.footerStats(
        spark.sparkContext.hadoopConfiguration, qualified).map(st =>
        s""","stats":${mapper.writeValueAsString(statsJson(st))}""")
        .getOrElse("")
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":{},"modificationTime":0,"dataChange":true$statsField}}""")
        .append('\n')
    }
    publishCommit(spark, table, 0L, sb.toString)
    0L
  }

  /** TYPE WIDENING (the `typeWidening` reader+writer feature modern
    * engines default on): change a column to a WIDER type metadata-only
    * — byte→short→int→long along the integral chain, float→double. No
    * file rewrites: parquet files keep the narrow physical type and the
    * scan upcasts (Spark's parquet readers promote int32→int64 and
    * float→double natively under the pinned wider schema). The change
    * is recorded in the field's `delta.typeChanges` metadata exactly as
    * the spec pins it, so other engines know which files predate the
    * widen. Narrowing or unrelated changes refuse; appends after the
    * widen must carry the wide type (the additive-drift gate).
    */
  def widenColumn(spark: SparkSession, table: String, name: String,
                  toType: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    featureReference(snap, name).foreach(r =>
      throw new IllegalArgumentException(
        s"$table: column $name is referenced by $r — drop it first"))
    val schema = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name), s"$table: no column $name")
    val f = schema(name)
    val from = f.dataType.typeName
    // accept both Spark typeName and standard SQL spellings
    val synonyms = Map("int" -> "integer", "bigint" -> "long",
      "smallint" -> "short", "tinyint" -> "byte")
    val to0 = toType.trim.toLowerCase
    val to = synonyms.getOrElse(to0, to0)
    val widenings: Set[(String, String)] = {
      val integral = Seq("byte", "short", "integer", "long")
      (for {
        i <- integral.indices; j <- integral.indices if i < j
      } yield (integral(i), integral(j))).toSet + ("float" -> "double")
    }
    require(widenings.contains(from -> to),
      s"$table: $name: $from -> $to is not a widening (supported: " +
        "byte/short/integer/long chain, float -> double)")
    val wideType: DataType = to match {
      case "short"   => org.apache.spark.sql.types.ShortType
      case "integer" => org.apache.spark.sql.types.IntegerType
      case "long"    => org.apache.spark.sql.types.LongType
      case "double"  => org.apache.spark.sql.types.DoubleType
    }
    val v = snap.version + 1
    // the spec's typeChanges record: which table version widened what —
    // readers use it to know which files predate the change (appended,
    // never replaced — a twice-widened column keeps its full history)
    val changesJson = {
      val existing =
        try Option(mapper.readTree(f.metadata.json).get("delta.typeChanges"))
          .map(_.elements().asScala.map(_.toString).toSeq).getOrElse(Nil)
        catch { case scala.util.control.NonFatal(_) => Nil }
      (existing :+
        s"""{"fromType":"$from","toType":"$to","tableVersion":$v}""")
        .mkString("[", ",", "]")
    }
    val newMeta = org.apache.spark.sql.types.Metadata.fromJson(
      mapper.readTree(f.metadata.json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .set[JsonNode]("delta.typeChanges", mapper.readTree(changesJson))
        .toString)
    val widened = StructType(schema.fields.map(fl =>
      if (fl.name == name) fl.copy(dataType = wideType, metadata = newMeta)
      else fl))
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"CHANGE COLUMN","timestamp":0}}""" +
        "\n" + writerFeatureUpgradeJson(snap, Set("typeWidening"),
          addedReader = Set("typeWidening")) +
        "\n" + metaDataJson(v, widened.json, snap.configuration,
          partitionColumns = snap.partitionColumns))
    maybeUniform(spark, table, v, snap.configuration) // face schema follows
    v
  }

  /** RENAME COLUMN — METADATA-ONLY on a column-mapped table: the logical
    * field changes name while keeping its column id and physical name,
    * so not a byte of data moves and every existing file still reads
    * (r12's column mapping made this legal; the append-time
    * additive-evolution guard stays strict because an accidental rename
    * through a drifted frame should still refuse — this verb is the
    * deliberate path). Stats-pruned verbs keep working: add-stats are
    * keyed by PHYSICAL name, which the rename never touches. On an
    * unmapped table the physical parquet names ARE the logical names, so
    * rename is refused with the remedy named.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    // metadata-only, but still a WRITE: a table declaring writer features
    // this writer doesn't implement must refuse
    requireWritable(table, snap, removesFiles = false)
    // a rename would orphan the column reference inside a constraint or
    // generation expression — the contract must be dropped first
    featureReference(snap, from).foreach(r =>
      throw new IllegalArgumentException(
        s"$table: column $from is referenced by $r — drop it first"))
    require(mappingMode(snap.configuration) != "none",
      s"$table: RENAME COLUMN needs column mapping (physical names are " +
        "decoupled from logical) — on an unmapped table, rewrite via " +
        "overwrite with the new schema")
    val schema = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    require(schema.fieldNames.contains(from), s"$table: no column $from")
    require(!schema.fieldNames.contains(to),
      s"$table: column $to already exists")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"RENAME COLUMN","timestamp":0}}""" +
        "\n" + metaDataJson(v, renamed.json, snap.configuration))
    v
  }

  /** DROP COLUMN — METADATA-ONLY on a column-mapped table: the field
    * leaves the logical schema; its physical column stays orphaned in
    * the data files (invisible to every read) until files are naturally
    * rewritten. `maxColumnId` is NOT reused, so a later re-add of the
    * same logical name gets a FRESH physical column — old values can
    * never resurrect under the new field (the protocol's id-stability
    * guarantee).
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    // same writer-protocol gate as renameColumn
    requireWritable(table, snap, removesFiles = false)
    // dropping a column a CHECK constraint or generation expression
    // references would corrupt the contract — drop the contract first
    featureReference(snap, name).foreach(r =>
      throw new IllegalArgumentException(
        s"$table: column $name is referenced by $r — drop it first"))
    require(mappingMode(snap.configuration) != "none",
      s"$table: DROP COLUMN needs column mapping — on an unmapped table, " +
        "rewrite via overwrite with the new schema")
    val schema = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name), s"$table: no column $name")
    require(schema.fields.length > 1,
      s"$table: cannot drop the last column")
    val dropped = StructType(schema.fields.filterNot(_.name == name))
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"DROP COLUMN","timestamp":0}}""" +
        "\n" + metaDataJson(v, dropped.json, snap.configuration))
    v
  }

  private def dvJson(d: DeletionVectors.DvDescriptor): String =
    s"""{"storageType":${mapper.writeValueAsString(d.storageType)},"pathOrInlineDv":${mapper.writeValueAsString(d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** RESTORE TABLE ... TO VERSION AS OF — metadata-only rollback (the
    * reference engine's RESTORE): one commit whose remove/add actions
    * swap the current file set for the target version's. No data is read
    * or written — the old files are still on disk until [[vacuum]]
    * passes them (the same retention-horizon contract as time travel),
    * and history keeps moving FORWARD: the rollback is itself a
    * versioned, auditable commit.
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val vs = versions(spark, table)
    val cur = snapshot(spark, table)
    val tgt = snapshot(spark, table, Some(version))
    require(tgt.schemaJson.nonEmpty, s"$table: no metaData at v$version")
    requireWritable(table, cur, removesFiles = true)
    val v = vs.last + 1
    val f = fs(spark, new Path(table))
    // file identity = (path, deletion vector): a file whose DV changed
    // between the versions must be re-added with the TARGET's descriptor
    // — a path-only diff would silently keep rows deleted (or undeleted)
    // that the target version masks differently
    def ident(s: Snapshot): Set[(String, String)] =
      s.files.map(p => (p, s.dvs.getOrElse(p, ""))).toSet
    val curSet = ident(cur)
    val tgtSet = ident(tgt)
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":"RESTORE","timestamp":0}}""")
      .append('\n')
    // metaData only — the table's declared protocol stays in force (it
    // already covers the target's DV/mapping needs, possibly more)
    sb.append(metaDataJson(v, tgt.schemaJson.get, tgt.configuration,
      partitionColumns = tgt.partitionColumns))
    (curSet -- tgtSet).toSeq.sorted.foreach { case (p, _) =>
      val pj = mapper.writeValueAsString(p)
      sb.append(s"""{"remove":{"path":$pj,"deletionTimestamp":0,"dataChange":true}}""")
        .append('\n')
    }
    (tgtSet -- curSet).toSeq.sorted.foreach { case (p, dv) =>
      val pj = mapper.writeValueAsString(p)
      val size = f.getFileStatus(new Path(table, p)).getLen
      val pvField = pvJsonOf(tgt.partitionValues.getOrElse(p, Map.empty))
      val statsField = tgt.stats.get(p).map(st =>
        s""","stats":${mapper.writeValueAsString(st)}""").getOrElse("")
      val dvField = if (dv.isEmpty) "" else s""","deletionVector":$dv"""
      // row tracking: restored files keep the TARGET version's ids
      val rowField = tgt.rowIds.get(p).map { case (b, ver) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$ver"""
      }.getOrElse("")
      sb.append(s"""{"add":{"path":$pj,"size":$size,"partitionValues":$pvField,"modificationTime":0,"dataChange":true$statsField$dvField$rowField}}""")
        .append('\n')
    }
    publishCommit(spark, table, v, sb.toString)
    // the restored state is the table state: bounded-replay and the
    // universal-format face must follow it like any other data commit
    maybeAutoCheckpoint(spark, table, v, tgt.configuration)
    maybeUniform(spark, table, v, tgt.configuration)
    v
  }

  /** Per-file `stats` JSON for an add action — the protocol's
    * data-skipping payload (numRecords + per-column minValues/maxValues)
    * from the shared footer fold ([[DataFiles.footerStats]]: unambiguous
    * primitives and UTF-8 strings only; consumers treat a missing bound
    * conservatively).
    */
  private def statsJson(st: DataFiles.FooterStats): String = {
    val node = mapper.createObjectNode()
    node.put("numRecords", st.numRecords)
    val mins = node.putObject("minValues")
    val maxs = node.putObject("maxValues")
    def put(o: ObjectNode, k: String, x: Any): Unit = x match {
      case u: DataFiles.Utf8Bytes => o.put(k, u.toString); ()
      case i: java.lang.Integer   => o.put(k, i.intValue()); ()
      case l: java.lang.Long      => o.put(k, l.longValue()); ()
      case f: java.lang.Float     => o.put(k, f.floatValue()); ()
      case d: java.lang.Double    => o.put(k, d.doubleValue()); ()
      case b: java.lang.Boolean   => o.put(k, b.booleanValue()); ()
      case _                      => ()
    }
    st.bounds.foreach { case (k, (lo, hi)) => put(mins, k, lo); put(maxs, k, hi) }
    mapper.writeValueAsString(node)
  }

  /** What [[selectiveMerge]] did: the committed version plus the file
    * economics (the whole point — `filesSkipped` is the table volume a
    * full-rewrite MERGE would have paid for).
    */
  final case class MergeStats(version: Long, filesRewritten: Int,
                              filesSkipped: Int)

  /** Copy-on-write MERGE with data skipping — the operation that makes
    * MERGE viable at 100 TB: only files whose add-stats range on the
    * FIRST merge key intersects the update batch's key set are read,
    * merged (via LakehouseOps.mergeUpsert — same semantics, same
    * skew-safe option) and rewritten; every other file survives the
    * commit untouched, byte for byte. Cost ∝ files containing matching
    * keys + the update batch — NOT table size. This is exactly how the
    * reference's engine executes its MERGE feeds (tasks/Query History API
    * to Delta_withmetrics.py:196-230): stats-pruned file scan, rewrite
    * matched files, one atomic commit (remove touched + add rewritten).
    *
    * Assumptions, stated: files without recorded stats (foreign writers,
    * skipped types) are rewritten conservatively; key containment is
    * judged on the [min,max] interval, so interleaved key ranges degrade
    * toward full rewrite — exactly when a Z-ORDER/range re-cluster
    * ([[optimizeCompact]], TableMaintenance.zorderVersioned) pays. The
    * batch's distinct first-key values drive the prune. A batch of at
    * most `min(maxPruneKeys, DataFiles.LocalSourceRows)` rows with exact
    * key types is read onto the driver ONCE ([[DataFiles.keySource]]):
    * its rows prune, drop the replaced target rows by key set and give the
    * winners, and the rewrite is one job. A larger batch stays distributed
    * — its distinct keys are collected BOUNDED (at most `maxPruneKeys + 1`
    * rows through a `limit`), and past that bound it degrades to a
    * full-file-set merge (correct, just unpruned) instead of OOMing the
    * driver on a 10⁸-key backfill.
    */
  def selectiveMerge(spark: SparkSession, table: String, updates: DataFrame,
                     keys: Seq[String], skewSafe: Boolean = false,
                     maxPruneKeys: Int = DataFiles.DefaultMaxPruneKeys,
                     clauses: Seq[graft.operators.MergeClause] = Nil,
                     schemaEvolution: Boolean = false)
      : MergeStats = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    // a source of at most min(maxPruneKeys, LocalSourceRows) rows is read
    // once, onto the driver: pruning, the kept-target predicate and the
    // winners all come from that read
    val src = DataFiles.keySource(spark, updates, keys, logicalSchema(snap),
      maxPruneKeys, "delta.merge.source")
    // whenNotMatchedBySource clauses involve EVERY target row by
    // definition, so key-range pruning is off the table there
    val (touched, skipped) =
      if (graft.operators.MergeClause.touchesBySource(clauses))
        (snap.files, Seq.empty[String])
      else DataFiles.labelled(spark, "delta.merge.keys")(
        keyPrune(snap, keys.head, src.pruneKeys(keys.head, maxPruneKeys)))
    // readSnapshot: DV masking + physical→logical relabel ride along —
    // rewriting a DV-carrying file folds its mask in (the rewrite has
    // no DV, same live rows). Schema evolution's new source columns
    // reach the log through commit's append-evolution channel.
    val base = readSnapshot(spark, table, snap, touched)
    val merged = graft.operators.LakehouseOps.merge(base, src.df, keys,
      clauses, skewSafe, schemaEvolution,
      src.unmatched(keys.map(k => base(s"`$k`"))))
    // CDF: materialize the exact per-commit feed the merge implies —
    // update_pre/postimage for keys present in the base, insert for new
    // keys. Cost ∝ touched data + batch (two key semi-joins), opt-in via
    // the table property. Mapped tables skip the channel (changes()
    // falls back to the net diff there — results identical), and so do
    // clause merges (conditional updates/deletes don't fit the
    // three-way classification below; the net-diff fallback is exact).
    val cdc: Option[DataFrame] =
      if (!cdfEnabled(snap.configuration) ||
          mappingMode(snap.configuration) != "none" || clauses.nonEmpty ||
          schemaEvolution) None // evolving merge: changes() net-diff is exact
      else {
        import org.apache.spark.sql.functions.{broadcast, col, lit}
        val keyC = keys.map(k => col(s"`$k`"))
        val updKeys = broadcast(src.df.select(keyC: _*).distinct())
        val baseKeys = base.select(keyC: _*).distinct()
        val pre = base.join(updKeys, keys, "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        val touchedMerged = merged.join(updKeys, keys, "left_semi")
        val post = touchedMerged.join(baseKeys, keys, "left_semi")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = touchedMerged.join(baseKeys, keys, "left_anti")
          .withColumn("_change_type", lit("insert"))
        Some(pre.unionByName(post).unionByName(ins))
      }
    val v = DataFiles.labelled(spark, "delta.merge.write")(
      commitOn(spark, table, Some(snap), merged, operation = "MERGE",
        replacing = Some(touched), cdc = cdc))
    MergeStats(v, touched.size, skipped.size)
  }

  /** Copy-on-write DELETE by key (the GDPR/right-to-erasure verb at
    * scale), with the same add-stats data skipping as [[selectiveMerge]]:
    * files whose key range misses every delete key survive the commit
    * byte-identical; intersecting files are rewritten WITHOUT the
    * matching rows in one distributed anti-join pass. NOTE the format's
    * own erasure caveat: deleted rows remain readable via time travel
    * until [[vacuum]] drops the pre-delete files — a compliance delete is
    * selectiveDelete + vacuum, exactly as with the reference engine.
    */
  def selectiveDelete(spark: SparkSession, table: String, keys: DataFrame,
                      keyCols: Seq[String],
                      maxPruneKeys: Int = DataFiles.DefaultMaxPruneKeys): MergeStats = {
    import org.apache.spark.sql.functions.broadcast
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    val (touched, skipped) = keyPrune(snap, keyCols.head,
      DataFiles.boundedKeys(keys, keyCols.head, maxPruneKeys))
    if (touched.isEmpty) return MergeStats(snap.version, 0, skipped.size)
    val base = readSnapshot(spark, table, snap, touched)
    val delKeys = broadcast(keys
      .select(keyCols.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*).distinct())
    val remaining = base.join(delKeys, keyCols, "left_anti")
    // CDF: the erased rows, tagged delete (see selectiveMerge)
    val cdc: Option[DataFrame] =
      if (!cdfEnabled(snap.configuration) ||
          mappingMode(snap.configuration) != "none") None
      else Some(base.join(delKeys, keyCols, "left_semi")
        .withColumn("_change_type",
          org.apache.spark.sql.functions.lit("delete")))
    val v = commit(spark, table, remaining, operation = "DELETE",
      replacing = Some(touched), cdc = cdc)
    MergeStats(v, touched.size, skipped.size)
  }

  /** What [[deleteVectors]] did: the committed version, the files that
    * gained/extended a DV, and the newly-deleted row count.
    */
  final case class DvDeleteStats(version: Long, filesTouched: Int,
                                 rowsDeleted: Long)

  /** MERGE-ON-READ DELETE by key — the deletion-vector write path (the
    * default DELETE of current Delta engines, and the reason
    * [[SupportedReaderFeatures]] exists): instead of rewriting every file
    * containing a matching row ([[selectiveDelete]]'s copy-on-write), the
    * matching rows' ROW INDICES are recorded in one roaring bitmap per
    * file, written to a single DV sidecar, and each touched file is
    * re-added with its `deletionVector` descriptor — data files are
    * never rewritten, the commit is metadata plus kilobytes of bitmap.
    * Existing DVs extend (old ∪ new — a second delete on the same file
    * unions in); already-deleted rows are masked out of the victim scan
    * so they are neither re-counted nor re-marked. Readers at this or any
    * later version see the rows gone; time travel before it still sees
    * them (the format's own contract — a compliance erasure is
    * copy-on-write [[selectiveDelete]] + [[vacuum]]).
    *
    * Scale shape: the victim scan is one distributed pass — over the
    * files whose key bounds admit a delete key, with a key-set filter,
    * when the batch fits [[DataFiles.keySource]]'s driver bound; over
    * every file with the key set broadcast otherwise. The (file,
    * rowIndex) victims are collected to the driver to build bitmaps —
    * bounded by `maxDeleteRows` (REFUSED past it, with the copy-on-write
    * path named in the error: past ~tens of millions of rows per batch,
    * rewriting files is the right verb anyway, exactly the heuristic real
    * engines apply).
    */
  def deleteVectors(spark: SparkSession, table: String, keys: DataFrame,
                    keyCols: Seq[String],
                    maxDeleteRows: Int = 16 << 20): DvDeleteStats = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    require(snap.partitionColumns.isEmpty,
      s"$table: deletion vectors on a partitioned table are not " +
        "supported — use selectiveDelete (copy-on-write)")
    // UniForm face sync cannot express a live DV (Iceberg-face readers
    // would keep seeing the deleted rows until some later rewrite folds
    // it — a silent divergence between the two faces). Same call the
    // reference's UniForm makes: block the merge-on-read path and name
    // the copy-on-write one, which syncs the face on commit.
    require(!uniformEnabled(snap.configuration),
      s"$table: deletion vectors on a universalFormat table would " +
        "silently diverge the Iceberg face — use selectiveDelete " +
        "(copy-on-write), which syncs the face")
    requireWritable(table, snap, removesFiles = true)
    val logical = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    val mapped = mappingMode(snap.configuration) != "none"
    val readSchema = if (mapped) physicalSchema(logical) else logical
    val physKeyCols = keyCols.map(k => physicalNameOf(snap, k))
    val root = new Path(table)
    val f = fs(spark, root)
    if (snap.files.isEmpty) return DvDeleteStats(snap.version, 0, 0L)

    // a key batch of at most LocalSourceRows rows is read onto the driver
    // once: it prunes the victim scan to the files whose key bounds admit
    // a delete key and selects the victims by key set, with no join
    val src = DataFiles.keySource(spark, keys, keyCols, logical,
      DataFiles.DefaultMaxPruneKeys, "delta.delete.source")
    val scanned = src.local.fold(snap.files)(_ =>
      keyPrune(snap, keyCols.head,
        src.pruneKeys(keyCols.head, DataFiles.DefaultMaxPruneKeys))._1)
    val base = spark.read.schema(readSchema)
      .parquet(scanned.map(p => new Path(table, p).toString): _*)
      .withColumn("__dv_key",
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    // mask rows an existing DV already hides — they must not re-mark
    val existing: Map[String, Array[Byte]] = scanned.flatMap(p =>
      snap.dvs.get(p).map(dj => new Path(table, p).getName ->
        DeletionVectors.readBitmapBytes(f, root, parseDv(dj)))).toMap
    val masked =
      if (existing.isEmpty) base
      else {
        val bc = spark.sparkContext.broadcast(existing)
        base.filter(!DeletionVectors.dvDeleted(bc, col("__dv_key"),
          col("__dv_pos"), identity))
      }
    val matched = src.unmatched(physKeyCols.map(pk => masked(s"`$pk`"))) match {
      case Some(keep) => masked.filter(!keep)
      case None =>
        val keySel = src.df.select(keyCols.zip(physKeyCols).map {
          case (k, pk) => src.df(s"`$k`").as(pk) }.toIndexedSeq: _*).distinct()
        masked.join(broadcast(keySel), physKeyCols, "left_semi")
    }
    val victims = DataFiles.labelled(spark, "delta.delete.victims")(matched
      .select("__dv_key", "__dv_pos")
      .limit(maxDeleteRows + 1)
      .collect())
    require(victims.length <= maxDeleteRows,
      s"$table: delete batch exceeds $maxDeleteRows rows — use the " +
        "copy-on-write selectiveDelete for bulk erasure")
    if (victims.isEmpty) return DvDeleteStats(snap.version, 0, 0L)

    val byFile: Map[String, Array[Long]] = victims
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1))).toMap
    val nameToPath: Map[String, String] =
      snap.files.map(p => new Path(table, p).getName -> p).toMap
    val touched = byFile.keys.toSeq.sorted.map(nameToPath)
    // per-file bitmap = existing DV (if any) ∪ new victims
    val bitmapsOut: Seq[(String, Array[Byte], Long)] = touched.map { p =>
      val name = new Path(table, p).getName
      val fresh = DeletionVectors.Bitmap64(byFile(name).toSeq)
      val merged = existing.get(name)
        .map(b => DeletionVectors.Bitmap64.deserialize(b).or(fresh))
        .getOrElse(fresh)
      (p, merged.serialize(), merged.cardinality)
    }
    val (pathOrInline, offsets) =
      DeletionVectors.writeDvFile(f, root, bitmapsOut.map(_._2))

    val v = snap.version + 1
    val sb = new StringBuilder
    sb.append(s"""{"commitInfo":{"operation":"DELETE","timestamp":0}}""")
      .append('\n')
    // first DV on the table upgrades the protocol to table features,
    // UNIONING whatever the table already declares (a features-protocol
    // action REPLACES the previous protocol — dropping a declared
    // feature like columnMapping or rowTracking would corrupt the
    // table's contract for every conformant reader/writer)
    sb.append(writerFeatureUpgradeJson(snap, Set.empty,
      addedReader = Set("deletionVectors") ++
        (if (mapped) Set("columnMapping") else Set.empty[String])))
      .append('\n')
    bitmapsOut.zip(offsets).foreach { case ((p, bytes, card), (off, size)) =>
      val pj = mapper.writeValueAsString(p)
      sb.append(s"""{"remove":{"path":$pj,"deletionTimestamp":0,"dataChange":true}}""")
        .append('\n')
      val fileSize = f.getFileStatus(new Path(table, p)).getLen
      val statsField = snap.stats.get(p).map(s =>
        s""","stats":${mapper.writeValueAsString(s)}""").getOrElse("")
      // row tracking: the file is untouched — its baseRowId MUST carry
      // (dropping it would null every surviving row's id)
      val rowField = snap.rowIds.get(p).map { case (b, ver) =>
        s""","baseRowId":$b,"defaultRowCommitVersion":$ver"""
      }.getOrElse("")
      val dvj = s"""{"storageType":"u","pathOrInlineDv":${mapper.writeValueAsString(pathOrInline)},"offset":$off,"sizeInBytes":$size,"cardinality":$card}"""
      sb.append(s"""{"add":{"path":$pj,"size":$fileSize,"partitionValues":{},"modificationTime":0,"dataChange":true$statsField$rowField,"deletionVector":$dvj}}""")
        .append('\n')
    }
    publishCommit(spark, table, v, sb.toString)
    DvDeleteStats(v, touched.size, victims.length.toLong)
  }

  /** What [[purgeDvs]] did: the committed version (unchanged when no DV
    * was live), files rewritten (the DV carriers), files untouched.
    */
  final case class PurgeStats(version: Long, filesRewritten: Int,
                              filesUntouched: Int)

  /** REORG TABLE ... APPLY (PURGE) — materialize deletion vectors into
    * plain parquet: rewrite ONLY the files carrying a DV (their masked
    * rows dropped physically), leave every other file byte-identical.
    * Cost ∝ DV-carrying data, not table size — the middle ground between
    * merge-on-read reads forever and a full compaction. After the purge
    * + [[vacuum]] past the pre-purge versions, the deleted rows' bytes
    * are GONE from storage — the step that turns a merge-on-read DELETE
    * into a compliance-grade erasure (deleteVectors' documented caveat).
    * Also the conversion unblocker: FormatConvert refuses live DVs;
    * purge clears them without touching the clean files.
    */
  def purgeDvs(spark: SparkSession, table: String): PurgeStats = {
    val snap = snapshot(spark, table)
    val touched = snap.files.filter(snap.dvs.contains)
    if (touched.isEmpty)
      return PurgeStats(snap.version, 0, snap.files.size)
    val rewritten = readSnapshot(spark, table, snap, touched)
    val v = commit(spark, table, rewritten, operation = "PURGE",
      replacing = Some(touched))
    PurgeStats(v, touched.size, snap.files.size - touched.size)
  }

  type SkippingScan = DataFiles.SkippingScan
  val SkippingScan = DataFiles.SkippingScan

  /** Stats-pruned READ — the protocol's data-skipping payload applied to
    * the scan path (the reason `OPTIMIZE ZORDER` exists at all): files
    * whose recorded add-stats [min,max] on `keyCol` cannot contain a row
    * in `[lo, hi]` are dropped from the file list BEFORE Spark ever sees
    * them ([[DataFiles.readWhere]]: shared comparison domain, residual
    * predicate pushed into the surviving scan). A PARTITION column prunes
    * on the log's partitionValues instead (hive layout: its data files
    * carry no stats for it). Missing stats → scanned conservatively. On a
    * range/Z-ORDER-clustered table, cost ∝ files overlapping the range,
    * NOT table size; on an unclustered table every file overlaps and
    * this degrades (harmlessly) to a full filtered scan — exactly when
    * [[optimizeZorder]] pays.
    */
  def readWhere(spark: SparkSession, table: String, keyCol: String,
                lo: Any, hi: Any): SkippingScan = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    val field = logicalSchema(snap)(keyCol)
    val dt = field.dataType
    val bounds: String => Option[(Any, Any)] =
      if (!snap.partitionColumns.contains(keyCol))
        statsBounds(snap, field)
      else if (hiveComparable(dt))
        p => partitionValue(snap)(p, keyCol).map(v => (v, v))
      else _ => None
    DataFiles.readWhere(table, keyCol, dt, lo, hi, snap.files)(bounds)(
      readSnapshot(spark, table, snap, _))
  }

  /** OPTIMIZE ZORDER as a protocol commit (reference:
    * TPC-datagen-notebook.scala:1979-2029 runs `OPTIMIZE ... ZORDER BY`
    * on every table it lands): rewrite the latest snapshot range-
    * partitioned on the Morton interleave of `cols`
    * (graft.functions.ZOrder — codegen'd arithmetic, computed streaming
    * in the scan stage), so each output file covers a tight rectangle in
    * the multi-column key space and the add-stats [min,max] recorded at
    * commit time become selective on EVERY interleaved column at once.
    * This is the maintenance verb that keeps [[selectiveMerge]] /
    * [[selectiveDelete]] / [[readWhere]] proportional to touched data as
    * interleaved writes accumulate. One distributed range-shuffle pass;
    * only the commit publish is driver-side.
    */
  def optimizeZorder(spark: SparkSession, table: String, cols: Seq[String],
                     targetFiles: Int, bits: Int = 0): Long =
    // the sizing/shift/cluster kernel is shared with IcebergLite's verb
    // (graft.functions.ZOrder.clusterByZ): bit budget probed from the
    // data so values never wrap, over-wide columns right-shifted
    {
      val s = snapshot(spark, table)
      // a liquid-clustered table owns its layout: an explicit ZORDER BY
      // would silently fight the declared clustering keys on the next
      // OPTIMIZE — refuse with the remedy named (the real engines do)
      clusteringColumnsOf(s).foreach(cc => require(cc == cols,
        s"$table: ZORDER BY on a liquid-clustered table (keys " +
          s"${cc.mkString(", ")}) — run OPTIMIZE (auto-clusters) or " +
          "clusterByNone first"))
      commit(spark, table,
        graft.functions.ZOrder.clusterByZ(
          readSnapshot(spark, table, s, s.files), cols, targetFiles, bits),
        overwrite = true,
        operation = s"OPTIMIZE ZORDER BY (${cols.mkString(", ")})",
        partitionBy = s.partitionColumns)
    }

  /** Rows ADDED in versions `(fromVersion, toVersion]` under the
    * APPEND-ONLY contract — the IcebergLite.incrementalRead twin, and
    * the batch kernel of the streaming source ([[graft.streaming
    * .TableStreams]]): the added file set is exactly the snapshot
    * file-set difference, so the scan touches ONLY the new files (cost ∝
    * appended data, never table size). A range that removed files or
    * changed a deletion vector has no well-defined append delta and is
    * REFUSED loudly with the remedy named (consume via [[changes]],
    * which classifies the full row-level feed).
    */
  def appended(spark: SparkSession, table: String, fromVersion: Long,
               toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"appended: fromVersion $fromVersion > toVersion $toVersion")
    val from = snapshot(spark, table, Some(fromVersion))
    val to = snapshot(spark, table, Some(toVersion))
    val toFiles = to.files.toSet
    val removed = from.files.filterNot(toFiles.contains)
    val dvChanged = from.files.filter(p =>
      toFiles.contains(p) &&
        from.dvs.getOrElse(p, "") != to.dvs.getOrElse(p, ""))
    require(removed.isEmpty && dvChanged.isEmpty,
      s"$table: versions ($fromVersion, $toVersion] removed files or " +
        "changed deletion vectors — not an append-only range; consume " +
        "the row-level feed via changes() instead")
    val fromFiles = from.files.toSet
    readSnapshot(spark, table, to, to.files.filterNot(fromFiles.contains))
  }

  /** Net row-level CHANGE FEED between two committed versions — the
    * protocol-level answer to Delta's Change Data Feed for copy-on-write
    * tables (no `_change_data` files needed — though when a foreign CDF
    * writer recorded `cdc` actions, that exact pre-paid channel is
    * preferred; see below): diff the two snapshots'
    * FILE sets (driver-side, metadata only), read ONLY the files that
    * changed hands, and cancel the rows copy-on-write rewrites carried
    * over unchanged (`exceptAll` both ways — byte-identical copies
    * annihilate). What survives is classified per key:
    * `update_preimage`/`update_postimage` (key present on both sides),
    * `insert` (new side only), `delete` (old side only), in Delta CDF's
    * own `_change_type` vocabulary. Cost ∝ data in changed files — a
    * selectiveMerge touching 1 of 8 files diffs 1/8 of the table, never
    * all of it.
    *
    * Semantics are the NET change `from → to` (intermediate versions
    * that cancel out don't appear), and keys must be unique per snapshot
    * (the merge-keyed table shape every upsert feed maintains). Additive
    * schema evolution between the versions is handled by aligning the
    * old side to the new schema (missing columns read null).
    */
  /** `withVersion = true` adds a `_commit_version` column (the real
    * CDF reader's column): per-commit on the cdc channel, `toVersion`
    * on the net-diff path (the net change IS the range's final state).
    * Consumers that must order events per key — cross-format
    * replication resolving an upsert-then-delete of the same key —
    * need it; the default stays off so existing oracles are unchanged.
    */
  def changes(spark: SparkSession, table: String, fromVersion: Long,
              toVersion: Long, keys: Seq[String],
              withVersion: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{DataType => SDT, StructType => SST}
    require(fromVersion < toVersion, "changes requires fromVersion < toVersion")
    val from = snapshot(spark, table, Some(fromVersion))
    val to = snapshot(spark, table, Some(toVersion))
    require(to.schemaJson.nonEmpty, s"$table: no metaData in log")
    val schema = stripMapping(
      SDT.fromJson(to.schemaJson.get).asInstanceOf[SST])
    val dataCols = schema.fieldNames.toSeq
    // Foreign CDF channel: a CDF-enabled writer records `cdc` actions
    // pointing at `_change_data` files — the EXACT per-commit feed that
    // engine already paid to materialize. Prefer it over the net
    // file-diff when EVERY version in range carries it (reading is then
    // ∝ change volume with zero diff work); mixed ranges and mapped
    // tables fall back to the diff below. Note the semantic gain: the
    // cdc channel is the PER-COMMIT event stream (intermediate changes
    // included), which is what CDF consumers define correctness against;
    // the file-diff is its net projection.
    // the probe itself is gated on the CDF table property (the same
    // predicate writers use) — a non-CDF table skips the per-commit
    // JSON scan entirely instead of parsing the whole range for nothing
    if (cdfEnabled(to.configuration) &&
        mappingMode(to.configuration) == "none") {
      val f = fs(spark, logDir(table))
      val cdcPerVersion: Seq[(Long, Seq[String])] =
        ((fromVersion + 1) to toVersion).map { v =>
          v -> readActions(f, commitFile(table, v)).filter(_.has("cdc"))
            .map(_.get("cdc").get("path").asText())
        }
      if (cdcPerVersion.nonEmpty && cdcPerVersion.forall(_._2.nonEmpty)) {
        val cdcSchema = schema.add("_change_type",
          org.apache.spark.sql.types.StringType, nullable = true)
        val sel = dataCols.map(c => col(s"`$c`")) :+ col("_change_type")
        // only the versioned shape needs per-version frames; the default
        // keeps ONE scan over every cdc file (a long catch-up range as
        // an N-way union would pay N plan analyses for nothing)
        return if (!withVersion)
          spark.read.schema(cdcSchema)
            .parquet(cdcPerVersion.flatMap(_._2)
              .map(p => new Path(table, p).toString): _*)
            .select(sel: _*)
        else cdcPerVersion.map { case (v, ps) =>
          spark.read.schema(cdcSchema)
            .parquet(ps.map(p => new Path(table, p).toString): _*)
            .select(sel: _*)
            .withColumn("_commit_version", lit(v))
        }.reduce(_.unionByName(_))
      }
    }
    // file identity = (path, deletion vector): a merge-on-read DELETE
    // re-adds the SAME path with a new DV — a path-only diff would read
    // it on neither side and the deletes would vanish from the feed.
    // Each side reads through its OWN snapshot (its own DV masks), and
    // the exceptAll cancellation then nets out exactly the rows whose
    // visibility changed.
    def ident(s: Snapshot): Set[(String, String)] =
      s.files.map(p => (p, s.dvs.getOrElse(p, ""))).toSet
    val addedFiles = to.files.filter(p =>
      !ident(from).contains((p, to.dvs.getOrElse(p, ""))))
    val removedFiles = from.files.filter(p =>
      !ident(to).contains((p, from.dvs.getOrElse(p, ""))))
    ChangeFeed.netDiff(readSnapshot(spark, table, to, addedFiles),
      readSnapshot(spark, table, from, removedFiles), schema, keys,
      if (withVersion) Some(toVersion) else None)
  }

  private def logicalSchema(snap: Snapshot): StructType =
    DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]

  /** The partition-value domain is hive-dir STRINGS — only string and
    * integral columns compare safely against them (a timestamp's dir form
    * differs from its toString; a date would fail the decimal domain);
    * anything else keeps every file, conservative by construction.
    */
  private def hiveComparable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  /** `path`'s hive partition value for `col` from the log (None when
    * unknown or null).
    */
  private def partitionValue(snap: Snapshot)(path: String,
                                             col: String): Option[String] =
    snap.partitionValues.get(path).flatMap(m => Option(m.getOrElse(col, null)))

  /** `path`'s recorded add-stats [min,max] on `field` (stats are keyed
    * by physical name), as JSON text for [[DataFiles.key]]; None when
    * stats are absent. A column widened float→double (`delta.typeChanges`)
    * mixes files whose stats are float text with files whose stats are
    * double text, so its bounds take the wider of both readings.
    */
  private def statsBounds(snap: Snapshot, field: StructField)(
      path: String): Option[(Any, Any)] = {
    val col = physicalNameOf(snap, field.name)
    val fromFloat = field.metadata.contains("delta.typeChanges") &&
      mapper.readTree(field.metadata.json).get("delta.typeChanges")
        .elements().asScala.exists(_.path("fromType").asText() == "float")
    snap.stats.get(path).flatMap { js =>
      val node = mapper.readTree(js)
      def side(f: String) = Option(node.get(f)).flatMap(m => Option(m.get(col)))
        .filterNot(_.isNull).map(_.asText())
      for (mn <- side("minValues"); mx <- side("maxValues")) yield
        if (!fromFloat) (mn, mx)
        else (math.min(mn.toFloat.toDouble, mn.toDouble),
          math.max(mx.toFloat.toDouble, mx.toDouble))
    }
  }

  /** The (touched, skipped) file split for a key batch's distinct
    * `keyCol` values (None: the batch was past the driver bound, nothing
    * is pruned). A partition-keyed batch prunes whole partitions on the
    * log's partitionValues; otherwise files prune on add-stats, recorded
    * under PHYSICAL names on mapped tables.
    */
  private def keyPrune(snap: Snapshot, keyCol: String,
                       keys: Option[Array[org.apache.spark.sql.Row]])
      : (Seq[String], Seq[String]) = {
    val field = logicalSchema(snap)(keyCol)
    val dt = field.dataType
    keys match {
      case None => (snap.files, Nil)
      case Some(rows) if snap.partitionColumns.contains(keyCol) =>
        if (!hiveComparable(dt)) (snap.files, Nil)
        else DataFiles.partitionPrune(snap.files,
          Seq(keyCol -> DataFiles.keyStrings(rows)))(partitionValue(snap))
      case Some(rows) =>
        DataFiles.keyPrune(snap.files, dt, rows)(
          statsBounds(snap, field))
    }
  }

  /** The `files` METADATA TABLE — the live file inventory as a queryable
    * DataFrame: one row per data file with its add-stats record count,
    * on-disk size, and hive partition tuple. Record counts and partition
    * values come from the LOG; sizes are one fs stat per file (the
    * DESCRIBE DETAIL cost, bounded by file count).
    */
  def files(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val s = snapshot(spark, table)
    val f = fs(spark, new Path(table))
    s.files.map { p =>
      val rec: Option[Long] = s.stats.get(p).flatMap(j =>
        Option(mapper.readTree(j).get("numRecords")).map(_.asLong()))
      val pv = s.partitionValues.get(p).filter(_.nonEmpty)
        .map(_.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("/")).orNull
      (p, rec, f.getFileStatus(new Path(table, p)).getLen, pv)
    }.toDF("path", "record_count", "size_bytes", "partition")
  }

  /** DESCRIBE HISTORY over the log (reference:
    * TPC-datagen-notebook.scala:2168): one row per commit — version,
    * operation (from commitInfo; blank for logs other writers produced
    * without one), files added/removed. Driver-side like replay, bounded
    * by action count.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, logDir(table))
    versions(spark, table).map { v =>
      val as = readActions(f, commitFile(table, v))
      val ci = as.find(_.has("commitInfo")).map(_.get("commitInfo"))
      val op = ci.map(_.get("operation").asText()).getOrElse("")
      // SetTransaction bookkeeping, surfaced for audit: which streaming
      // appId stamped this commit, at which producer version
      val txn = as.find(_.has("txn")).map(_.get("txn"))
      (v, op, as.count(_.has("add")).toLong, as.count(_.has("remove")).toLong,
        txn.map(_.get("appId").asText()).orNull,
        txn.map(t => java.lang.Long.valueOf(t.get("version").asLong())).orNull,
        // the authoritative commit time on ICT tables (null elsewhere)
        ci.flatMap(c => Option(c.get("inCommitTimestamp")))
          .map(t => java.lang.Long.valueOf(t.asLong())).orNull)
    }.toDF("version", "operation", "n_added", "n_removed",
      "txn_app_id", "txn_version", "in_commit_timestamp")
  }

  /** OPTIMIZE (bin-packing compaction) as a protocol commit (reference:
    * TPC-datagen-notebook.scala:1979-2029): rewrite the latest snapshot
    * into `targetFiles` files and publish one commit removing every old
    * file — readers at any moment see either the old file set or the new
    * one, never a mix, and time travel to pre-OPTIMIZE versions still
    * works until [[vacuum]]. The rewrite is one distributed pass; only
    * the commit publish is driver-side.
    */
  def optimizeCompact(spark: SparkSession, table: String,
                      targetFiles: Int = 1): Long = {
    // one snapshot resolution serves both the frame and the layout
    // carry-over (a second replay per maintenance call adds up on long
    // un-checkpointed logs)
    val s = snapshot(spark, table)
    clusteringColumnsOf(s) match {
      // a liquid-clustered table's OPTIMIZE IS the re-cluster: plain
      // bin-packing would shred the key locality the declared clustering
      // exists to maintain, so the rewrite rides the shared Z-order
      // kernel on the table's own keys (one key degenerates to a range
      // sort). The clustering domain survives the overwrite — domain
      // state replays from the log and an overwrite never tombstones it.
      case Some(cc) =>
        commit(spark, table,
          graft.functions.ZOrder.clusterByZ(
            readSnapshot(spark, table, s, s.files),
            cc, math.max(targetFiles, 1), 0),
          overwrite = true,
          operation = s"OPTIMIZE CLUSTER BY (${cc.mkString(", ")})",
          partitionBy = s.partitionColumns)
      case None =>
        commit(spark, table,
          readSnapshot(spark, table, s, s.files).coalesce(targetFiles),
          overwrite = true, operation = "OPTIMIZE",
          partitionBy = s.partitionColumns)
    }
  }

  // ------------------------------------------------------ liquid clustering
  private val ClusteringDomain = "delta.clustering"

  /** LIQUID CLUSTERING keys as LOGICAL column names (None = not a
    * clustered table). The `delta.clustering` domain stores PHYSICAL
    * name paths (array-of-arrays, the spec shape real engines write);
    * mapped tables translate back through the schema's physicalName
    * metadata so callers and [[optimizeCompact]] think in logical names.
    */
  def clusteringColumns(spark: SparkSession, table: String): Option[Seq[String]] =
    clusteringColumnsOf(snapshot(spark, table))

  private[graft] def clusteringColumnsOf(s: Snapshot): Option[Seq[String]] =
    s.domainMetadata.get(ClusteringDomain).flatMap { c =>
      val raw =
        try Option(mapper.readTree(c).get("clusteringColumns")).toSeq
          .flatMap(_.elements().asScala).map { e =>
            if (e.isArray) e.elements().asScala.map(_.asText()).mkString(".")
            else e.asText()
          }
        catch { case scala.util.control.NonFatal(_) => Nil }
      val schema = s.schemaJson.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType])
      val logical = raw.map(p => schema.flatMap(
        _.fields.find(f => physicalName(f) == p)).map(_.name).getOrElse(p))
      if (logical.isEmpty) None else Some(logical)
    }

  /** Declare (or change) the table's liquid clustering keys — one
    * metadata-only commit: protocol upgrade to writer features +
    * `clustering`/`domainMetadata`, and the `delta.clustering` domain
    * set to the keys' physical names. Data does NOT move here; the next
    * [[optimizeCompact]] re-clusters by these keys (exactly the real
    * `ALTER TABLE … CLUSTER BY` contract). Hive-partitioned tables
    * refuse — partitioning and clustering are exclusive layouts.
    */
  def clusterBy(spark: SparkSession, table: String,
                cols: Seq[String]): Long = {
    val snap = snapshot(spark, table)
    require(snap.schemaJson.nonEmpty, s"$table: no metaData in log")
    requireWritable(table, snap, removesFiles = false)
    require(cols.nonEmpty,
      s"$table: CLUSTER BY needs at least one column — use clusterByNone " +
        "to drop clustering")
    require(cols.size <= 4,
      s"$table: at most 4 clustering columns (got ${cols.size})")
    require(snap.partitionColumns.isEmpty,
      s"$table: a hive-partitioned table cannot be liquid-clustered — " +
        "partitioning and clustering are exclusive layouts")
    val schema = DataType.fromJson(snap.schemaJson.get).asInstanceOf[StructType]
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"$table: no column $c"))
    val stored = cols.map(c => physicalNameOf(snap, c))
    val v = snap.version + 1
    val confJson = mapper.writeValueAsString(
      s"""{"clusteringColumns":[${stored.map(c =>
        "[" + mapper.writeValueAsString(c) + "]").mkString(",")}]}""")
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"CLUSTER BY (${cols.mkString(", ")})","timestamp":0}}""" +
        "\n" + writerFeatureUpgradeJson(snap,
          Set("clustering", "domainMetadata")) +
        "\n" + s"""{"domainMetadata":{"domain":"$ClusteringDomain","configuration":$confJson,"removed":false}}""" +
        "\n")
    v
  }

  /** Drop liquid clustering (`CLUSTER BY NONE`): tombstone the
    * clustering domain; the declared features stay (a v7 protocol never
    * downgrades), OPTIMIZE reverts to plain bin-packing.
    */
  def clusterByNone(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    requireWritable(table, snap, removesFiles = false)
    require(snap.domainMetadata.contains(ClusteringDomain),
      s"$table: not a liquid-clustered table")
    val v = snap.version + 1
    publishCommit(spark, table, v,
      s"""{"commitInfo":{"operation":"CLUSTER BY NONE","timestamp":0}}""" +
        "\n" + s"""{"domainMetadata":{"domain":"$ClusteringDomain","configuration":"{}","removed":true}}""" +
        "\n")
    v
  }

  /** VACUUM (reference: TPC-datagen-notebook.scala:2086): delete data
    * files referenced by NONE of the last `retainVersions` snapshots.
    * The log is never touched — history stays listable; time travel past
    * the horizon fails at scan time (file gone), the protocol's own
    * contract. Returns the deleted file names.
    */
  /** VACUUM, wall-clock flavored (`RETAIN n HOURS`, the real verb's
    * shape): keep every version a reader within the retention window
    * could still resolve — those stamped at or after `now - hours` —
    * plus the tip, then reap through [[vacuum]]'s version-count
    * keep-set. Stamps resolve like TIMESTAMP AS OF: `inCommitTimestamp`
    * first (the whole point of ICT — mtimes lie after object-store
    * copies), legacy commitInfo timestamps otherwise. A zeroed-stamp
    * log (this library's own deterministic tests) keeps only the tip —
    * same as `RETAIN 1 VERSIONS`.
    */
  def vacuumRetainHours(spark: SparkSession, table: String,
                        hours: Double): Seq[String] = {
    require(hours >= 0, "retention must be non-negative")
    val stamps = versionStamps(spark, table)
    // a zero-stamp log (this library's own deterministic writer without
    // ICT) has NO wall-clock to retain by — refusing beats the silent
    // maximal deletion a positive cutoff over zero stamps would compute
    require(stamps.exists(_._2 > 0),
      s"$table: no wall-clock commit timestamps in the log — enable " +
        "in-commit timestamps (enableInCommitTimestamps) or use the " +
        "version-count flavor (RETAIN n VERSIONS)")
    val cutoff = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    // stamps are monotonic, so the retained set is a trailing window;
    // +1 keeps the version a reader AT the cutoff still resolves to —
    // its files were removed INSIDE the window, so they must survive
    // (the real verb's files-removed-after-cutoff rule)
    val retained = stamps.count(_._2 >= cutoff) + 1
    vacuum(spark, table,
      retainVersions = math.min(math.max(retained, 1), stamps.size))
  }

  def vacuum(spark: SparkSession, table: String,
             retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val vs = versions(spark, table)
    val root = new Path(table)
    val retained = vs.takeRight(retainVersions)
      .map(v => snapshot(spark, table, Some(v)))
    val keep: Set[String] = retained.flatMap(_.files).toSet
    // DV sidecars referenced by any retained snapshot survive too; a
    // superseded DV (extended by a later delete) is reapable like a
    // superseded data file
    val keepDv: Set[String] = retained.flatMap(_.dvs.values).flatMap { dj =>
      val d = parseDv(dj)
      if (d.storageType == "i") None
      else Some(DeletionVectors.dvFilePath(root, d).getName)
    }.toSet
    val f = fs(spark, root)
    // CDF channel: cdc files live under _change_data/ and are referenced
    // only by their OWN commit's cdc actions — a cdc file serves
    // changes() for ranges covering its version, so one outside the
    // retention horizon is unreachable and reapable like a data file
    val keepCdc: Set[String] = vs.takeRight(retainVersions).flatMap { v =>
      readActions(f, commitFile(table, v)).filter(_.has("cdc"))
        .map(_.get("cdc").get("path").asText())
    }.toSet
    // walk the root plus hive partition dirs (partitioned layouts keep
    // data files under col=value/ paths; the keep-set is RELATIVE paths)
    // plus the _change_data dir (cdc keep-set)
    def walk(dir: Path, rel: String): Seq[(Path, String)] =
      f.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && (n.contains("=") || n == "_change_data"))
          walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
        else if (!st.isDirectory)
          Seq((st.getPath, if (rel.isEmpty) n else s"$rel/$n"))
        else Nil
      }
    val victims = walk(root, "")
      .filter { case (p, rel) =>
        val n = p.getName
        if (rel.startsWith("_change_data/"))
          rel.endsWith(".parquet") && !keepCdc.contains(rel)
        else
          (rel.endsWith(".parquet") && !keep.contains(rel)) ||
            (n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
              !keepDv.contains(n))
      }
    victims.foreach { case (p, _) => f.delete(p, false) }
    victims.map(_._2)
  }

  /** LOG RETENTION cleanup (the `delta.logRetentionDuration` verb,
    * version-count flavored like [[vacuum]]): delete JSON commits no
    * resolvable read can need — those BELOW the newest checkpoint that
    * is itself at-or-below the retention floor, i.e. below the
    * bootstrap the OLDEST retained version replays from — plus
    * superseded checkpoint files and the v2 sidecars only they
    * referenced. A checkpoint above the floor (the common tip-interval
    * case) licenses nothing: deleting under it would leave retained
    * versions replaying from a truncated v0. [[vacuum]] bounds the
    * DATA; without this the LOG grows forever (a streaming upsert
    * writes commits per batch — a year of 1-minute batches is half a
    * million JSON files the driver lists on every resolution). Time
    * travel below the cutoff then fails at version resolution — the
    * protocol's own retention contract.
    * Returns deleted log-relative file names.
    */
  def cleanupLogs(spark: SparkSession, table: String,
                  retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, logDir(table))
    val vs = versions(spark, table)
    if (vs.isEmpty) return Seq.empty
    val logNames = f.listStatus(logDir(table)).toSeq.map(_.getPath.getName)
    val CpRe = """(\d{20})\.checkpoint(\..*)?\.parquet""".r
    val CpJsonRe = """(\d{20})\.checkpoint\..*\.json""".r
    def cpVersionOf(n: String): Option[Long] = n match {
      case CpRe(v, _)   => Some(v.toLong)
      case CpJsonRe(v)  => Some(v.toLong)
      case _            => None
    }
    val cpVersions = completeCheckpointVersions(logNames)
    if (cpVersions.isEmpty) return Seq.empty // nothing can bootstrap: keep all
    val newestCp = cpVersions.last
    val floor = vs.takeRight(retainVersions).head
    // Deletable commits: below the BOOTSTRAP of the oldest retained
    // version — the newest checkpoint at-or-below the floor. A tip-only
    // checkpoint ABOVE the floor licenses no deletion at all: retained
    // versions below it would otherwise replay from a truncated v0 and
    // silently return wrong data (the snapshot() reader discovers this
    // retained checkpoint from the listing, not from _last_checkpoint).
    val bootCp: Option[Long] = cpVersions.filter(_ <= floor).lastOption
    val deadJson = bootCp.toSeq.flatMap(b =>
      vs.filter(_ < b).map(v => f"$v%020d.json"))
    // Superseded checkpoints: everything except the newest and the
    // floor's bootstrap (still load-bearing for sub-tip time travel).
    // With no bootstrap checkpoint, history replays from v0 —
    // checkpoints are then pure accelerators, deletable only while the
    // v0 commit prefix is intact.
    val keepCps: Set[Long] = Set(newestCp) ++ bootCp
    val cpDeletable = bootCp.isDefined || vs.headOption.contains(0L)
    // never above newestCp: files there are an IN-FLIGHT writer's
    // incomplete multi-part/v2 checkpoint (completeness excluded them
    // from cpVersions) — deleting a part under a concurrent writer
    // corrupts the checkpoint it is about to publish
    val deadCps =
      if (!cpDeletable) Nil
      else logNames.filter(n => cpVersionOf(n).exists(v =>
        v <= newestCp && !keepCps.contains(v)))
    // sidecars: keep those referenced by any SURVIVING v2 checkpoint
    def sidecarRefs(names: Seq[String]): Set[String] = names.flatMap {
      case n @ CpRe(_, uuid) if uuid != null =>
        try {
          val cp = spark.read.parquet(new Path(logDir(table), n).toString)
          if (cp.columns.contains("sidecar"))
            cp.selectExpr("sidecar.path").collect()
              .flatMap(r => Option(r.getString(0)))
              .filterNot(p => p.contains("://") || p.startsWith("/")).toSeq
          else Nil
        } catch { case scala.util.control.NonFatal(_) => Nil }
      case n @ CpJsonRe(_) =>
        try readActions(f, new Path(logDir(table), n)).filter(_.has("sidecar"))
          .map(_.get("sidecar").get("path").asText())
          .filterNot(p => p.contains("://") || p.startsWith("/"))
        catch { case scala.util.control.NonFatal(_) => Nil }
      case _ => Nil
    }.toSet
    // sidecars referenced by ANY surviving checkpoint stay (the floor's
    // retained bootstrap may be v2-shaped too, not just the newest)
    val keepSidecars = sidecarRefs(
      logNames.filter(n => cpVersionOf(n).isDefined && !deadCps.contains(n)))
    // deletable sidecars: ONLY those a known-superseded (dead) checkpoint
    // references — never "everything unreferenced": an in-flight
    // checkpointV2 writes its sidecar BEFORE the top-level that will
    // reference it, so an unreferenced sidecar may be a concurrent
    // writer's about-to-publish state, not debris
    val sidecarDir = new Path(logDir(table), "_sidecars")
    val deadSidecars: Seq[String] =
      if (!f.exists(sidecarDir)) Nil
      else (sidecarRefs(deadCps) -- keepSidecars).toSeq.sorted
        .filter(n => f.exists(new Path(sidecarDir, n)))
        .map(n => s"_sidecars/$n")
    val victims = deadJson ++ deadCps ++ deadSidecars
    victims.foreach(n => f.delete(new Path(logDir(table), n), false))
    victims
  }

  /** Compact the log at its latest version into a parquet checkpoint +
    * `_last_checkpoint` pointer — the protocol's bootstrap artifact, so
    * replay cost stays bounded as commits accumulate.
    */
  def checkpoint(spark: SparkSession, table: String): Long = {
    val s = snapshot(spark, table)
    // a table declaring the v2Checkpoint feature must get v2-shaped
    // checkpoints — writing a classic one there would be spec-illegal
    if (s.readerFeatures.contains("v2Checkpoint") ||
        s.writerFeatures.contains("v2Checkpoint"))
      checkpointV2(spark, table)
    else {
      writeClassicCheckpoint(spark, table, s)
      s.version
    }
  }

  /** One row per action, null-struct elsewhere: the bootstrap frame both
    * checkpoint flavors are built from. The add struct carries stats AND
    * the deletionVector descriptor; metaData carries the configuration
    * (column-mapping mode); protocol carries the reader version +
    * features the snapshot requires; domainMetadata rows preserve foreign
    * domain state (liquid clustering et al.) — so a bootstrap loses
    * nothing: masked rows stay masked, mapped names stay mapped, skipping
    * stats survive, domains survive.
    */
  private def checkpointRowsDf(spark: SparkSession, table: String,
                               s: Snapshot): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val schemaJson = s.schemaJson.getOrElse(
      sys.error(s"$table: no metaData in log"))
    val confJson = "{" + s.configuration.toSeq.sortBy(_._1).map {
      case (k, v) => s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
    }.mkString(",") + "}"
    val needsDv = s.dvs.nonEmpty
    val mapped = mappingMode(s.configuration) != "none"
    // explicit reader features (v3 tables) are preserved and unioned with
    // what the snapshot state implies; legacy tables keep legacy versions
    val rf: Set[String] = s.readerFeatures ++
      (if (needsDv) Set("deletionVectors") else Set.empty[String]) ++
      (if (mapped && (needsDv || s.readerFeatures.nonEmpty))
        Set("columnMapping") else Set.empty[String])
    val minReader = if (rf.nonEmpty) 3 else if (mapped) 2 else 1
    val features = rf.toSeq.sorted
    val pcJson = "[" + s.partitionColumns
      .map(mapper.writeValueAsString).mkString(",") + "]"
    // row kinds: one per add, one per SetTransaction appId (the
    // idempotent-writer watermark a bootstrap must not lose), one per
    // live domain, one meta. 13-ary row: (addPath, addStats, dvJson,
    // pvJson, schemaString, confJson, pcJson, txnAppId, txnVersion,
    // dmDomain, dmConf, rowBase, rowVer)
    val none = (Option.empty[String], Option.empty[String],
      Option.empty[String], Option.empty[String], Option.empty[String],
      Option.empty[String], Option.empty[String], Option.empty[String],
      Option.empty[java.lang.Long], Option.empty[String],
      Option.empty[String], Option.empty[java.lang.Long],
      Option.empty[java.lang.Long])
    val addRows = s.files.map(p => none.copy(
      _1 = Option(p), _2 = s.stats.get(p), _3 = s.dvs.get(p),
      _4 = s.partitionValues.get(p).map(pvJsonOf),
      _12 = s.rowIds.get(p).map(r => java.lang.Long.valueOf(r._1)),
      _13 = s.rowIds.get(p).map(r => java.lang.Long.valueOf(r._2))))
    val txnRows = s.txns.toSeq.sortBy(_._1).map {
      case (appId, tv) => none.copy(_8 = Option(appId),
        _9 = Option(java.lang.Long.valueOf(tv)))
    }
    val domainRows = s.domainMetadata.toSeq.sortBy(_._1).map {
      case (d, c) => none.copy(_10 = Option(d), _11 = Option(c))
    }
    val metaRow = none.copy(_5 = Option(schemaJson),
      _6 = Option(confJson), _7 = Option(pcJson))
    val writerFeats = s.writerFeatures.toSeq.sorted
    (addRows ++ txnRows ++ domainRows :+ metaRow)
      .toDF("addPath", "addStats", "dvJson", "pvJson",
        "schemaString", "confJson", "pcJson", "txnAppId", "txnVersion",
        "dmDomain", "dmConf", "rowBase", "rowVer")
      .selectExpr(
        """CASE WHEN addPath IS NOT NULL THEN named_struct(
          |  'path', addPath, 'stats', addStats,
          |  'partitionValues', from_json(pvJson, 'MAP<STRING, STRING>'),
          |  'deletionVector', from_json(dvJson,
          |    'storageType STRING, pathOrInlineDv STRING, offset INT, sizeInBytes INT, cardinality BIGINT'),
          |  'baseRowId', rowBase, 'defaultRowCommitVersion', rowVer)
          |END AS add""".stripMargin,
        """CASE WHEN schemaString IS NOT NULL THEN named_struct(
          |  'schemaString', schemaString,
          |  'configuration', from_json(confJson, 'MAP<STRING, STRING>'),
          |  'partitionColumns', from_json(pcJson, 'ARRAY<STRING>'))
          |END AS metaData""".stripMargin,
        s"""CASE WHEN schemaString IS NOT NULL THEN named_struct(
           |  'minReaderVersion', $minReader,
           |  'minWriterVersion', ${math.max(s.minWriterVersion, 1)},
           |  'readerFeatures', ${
          if (features.isEmpty) "CAST(NULL AS ARRAY<STRING>)"
          else features.map(x => s"'$x'").mkString("array(", ", ", ")")
        },
           |  'writerFeatures', ${
          if (writerFeats.isEmpty) "CAST(NULL AS ARRAY<STRING>)"
          else writerFeats.map(x => s"'$x'").mkString("array(", ", ", ")")
        })
           |END AS protocol""".stripMargin,
        """CASE WHEN txnAppId IS NOT NULL THEN named_struct(
          |  'appId', txnAppId, 'version', txnVersion)
          |END AS txn""".stripMargin,
        """CASE WHEN dmDomain IS NOT NULL THEN named_struct(
          |  'domain', dmDomain, 'configuration', dmConf,
          |  'removed', false)
          |END AS domainMetadata""".stripMargin)
  }

  /** Write `df` as ONE parquet file at `target` (staging + rename),
    * returning the written length.
    */
  private def writeSingleParquet(spark: SparkSession, table: String,
                                 df: org.apache.spark.sql.DataFrame,
                                 target: Path, stageId: String): Long = {
    val f = fs(spark, logDir(table))
    val staging = new Path(logDir(table), s".cp-staging-$stageId")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = f.listStatus(staging).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error("checkpoint write produced no part file"))
    f.mkdirs(target.getParent)
    require(f.rename(part, target), s"checkpoint rename failed: $target")
    f.delete(staging, true)
    f.getFileStatus(target).getLen
  }

  private def writeLastCheckpoint(spark: SparkSession, table: String,
                                  version: Long, size: Long): Unit = {
    val f = fs(spark, logDir(table))
    val out = f.create(new Path(logDir(table), "_last_checkpoint"), true)
    try out.write(s"""{"version":$version,"size":$size}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def writeClassicCheckpoint(spark: SparkSession, table: String,
                                     s: Snapshot): Unit = {
    val cp = checkpointRowsDf(spark, table, s)
    writeSingleParquet(spark, table, cp,
      checkpointFile(table, s.version), s.version.toString)
    writeLastCheckpoint(spark, table, s.version,
      s.files.size + s.txns.size + s.domainMetadata.size + 1)
  }

  /** V2 (sidecar-style) checkpoint — the shape current engines write for
    * tables on the `v2Checkpoint` table feature: file actions land in a
    * sidecar parquet under `_delta_log/_sidecars/`, and the top-level
    * `N.checkpoint.<uuid>.parquet` carries only the non-file state
    * (protocol, metaData, txn, domainMetadata) plus a
    * `checkpointMetadata` row and one `sidecar` pointer per sidecar
    * file. On a table not yet declaring the feature, ONE protocol
    * upgrade commit is published first (v3/v7 table features, unioning
    * whatever the table already declares with what its state implies) —
    * v2 checkpoints are only legal under the declared feature.
    */
  def checkpointV2(spark: SparkSession, table: String): Long = {
    val s0 = snapshot(spark, table)
    val s =
      if (s0.readerFeatures.contains("v2Checkpoint")) s0
      else {
        requireWritable(table, s0, removesFiles = false)
        val mapped = mappingMode(s0.configuration) != "none"
        val impliedW: Set[String] = Set("v2Checkpoint", "appendOnly",
          "invariants") ++
          (if (s0.dvs.nonEmpty) Set("deletionVectors") else Set.empty[String]) ++
          (if (mapped) Set("columnMapping") else Set.empty[String]) ++
          (if (cdfEnabled(s0.configuration)) Set("changeDataFeed")
           else Set.empty[String])
        val readerRelevant =
          Set("v2Checkpoint", "deletionVectors", "columnMapping", "timestampNtz")
        val rf = (s0.readerFeatures ++ (impliedW & readerRelevant))
          .toSeq.sorted.map(mapper.writeValueAsString).mkString(",")
        val wf = (s0.writerFeatures ++ impliedW)
          .toSeq.sorted.map(mapper.writeValueAsString).mkString(",")
        val v = s0.version + 1
        publishCommit(spark, table, v,
          s"""{"commitInfo":{"operation":"UPGRADE","timestamp":0}}""" + "\n" +
            s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$rf],"writerFeatures":[$wf]}}""" +
            "\n")
        snapshot(spark, table)
      }
    val rows = checkpointRowsDf(spark, table, s)
    val uuid = java.util.UUID.randomUUID().toString
    val sidecarName = s"$uuid.parquet"
    val sidecarLen = writeSingleParquet(spark, table,
      rows.filter(org.apache.spark.sql.functions.col("add").isNotNull)
        .select("add"),
      new Path(new Path(logDir(table), "_sidecars"), sidecarName),
      s"sidecar-${s.version}")
    val nonFile = rows
      .filter(org.apache.spark.sql.functions.col("add").isNull)
      .drop("add")
    import spark.implicits._
    val extra = Seq((s.version, sidecarName, sidecarLen))
      .toDF("cmVersion", "scPath", "scLen")
      .selectExpr(
        """named_struct('version', cmVersion,
          |  'tags', CAST(NULL AS MAP<STRING, STRING>))
          |AS checkpointMetadata""".stripMargin,
        """named_struct('path', scPath, 'sizeInBytes', scLen,
          |  'modificationTime', 0L,
          |  'tags', CAST(NULL AS MAP<STRING, STRING>))
          |AS sidecar""".stripMargin)
    val top = nonFile.unionByName(extra, allowMissingColumns = true)
    writeSingleParquet(spark, table, top,
      new Path(logDir(table), f"${s.version}%020d.checkpoint.$uuid.parquet"),
      s"v2-${s.version}")
    writeLastCheckpoint(spark, table, s.version,
      s.files.size + s.txns.size + s.domainMetadata.size + 2)
    s.version
  }
}
