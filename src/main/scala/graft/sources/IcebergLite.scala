package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Native reader/writer for the (public) Apache Iceberg table format —
  * the second open lakehouse-table protocol, alongside [[DeltaLite]],
  * covered WITHOUT any format jars (none exist in this environment; see
  * README "Table-format boundary"). The format is an open spec
  * (iceberg.apache.org/spec): a table is a parquet-file directory plus
  * `metadata/` holding one immutable JSON table-metadata file per commit
  * (`v<N>.metadata.json`, discovered via `version-hint.text` — the spec's
  * file-system-tables catalog), each naming a current snapshot whose
  * *manifest list* (Avro) points at *manifest files* (Avro) that enumerate
  * the data files. Where Delta is log-REPLAY (state = fold of actions),
  * Iceberg is snapshot-ISOLATION (every commit materializes its complete
  * file graph) — supporting both shapes natively is the point of having
  * two implementations rather than one abstraction.
  *
  * Covered: format-version 1 and 2 metadata; snapshot resolution at the
  * current or any retained snapshot id (time travel); manifest-list and
  * manifest Avro decode (writer-schema driven, so extra v2 fields pass
  * through); Iceberg↔Spark schema conversion (primitives, decimal,
  * struct/list/map); a commit writer (append / overwrite) producing
  * spec-shaped v2 metadata + v2-encoded manifests (explicit per-entry
  * sequence numbers, data_file.content); DESCRIBE HISTORY; snapshot
  * expiration (the format's GC verb) and bin-packing compaction; v2
  * ROW-LEVEL DELETES both ways — position and equality delete files
  * read via [[readWithDeletes]] (sequence-number applicability: ≤ for
  * positional, strict < for equality) and written via [[deleteRows]]
  * (merge-on-read DELETE: one delete file + DELETE manifest, no data
  * rewrite); format-version 3 READS (r15 — deletion vectors as
  * `deletion-vector-v1` blobs in Puffin files, resolved through the
  * shared DV probe; written via [[deleteRowsV3]]). Out of scope
  * (documented, not silently wrong): format-version 4+ — REFUSED
  * loudly rather than mis-read; v3 row-lineage columns are not
  * surfaced.
  *
  * Scale shape: metadata resolution is driver-side and bounded by the
  * manifest count — exactly how the reference implementation plans scans
  * (Iceberg's own value proposition is that planning never lists the
  * directory). Manifest lists/manifests are a few KB per commit; the data
  * is never touched during planning — the snapshot feeds Spark's parquet
  * source as an explicit file list, so scans keep pushdown, pruning, and
  * vectorized decode. At 100 TB the same structure holds: a snapshot
  * with thousands of manifests resolves in one sequential pass over Avro
  * headers, and per-column min/max pruning over the manifests' recorded
  * `lower_bounds`/`upper_bounds` is implemented in [[readWhere]] —
  * metadata-only file skipping with the residual predicate pushed to the
  * surviving scans.
  *
  * Writer concurrency: [[commit]] is the plain single-writer path (its
  * metadata claim is put-if-absent like every publish, so a racing
  * writer fails it rather than being overwritten, but it never retries);
  * [[commitContended]] layers optimistic concurrency on top — stage
  * once under a writer-unique token, claim the next metadata version via
  * put-if-absent, and on a lost race rebase appends / conflict
  * read-modify-writes, same contract as DeltaLite's. Readers are always
  * safe: metadata files are immutable once named, and a torn commit
  * leaves only unreferenced files that no published metadata names.
  *
  * Reference: the reference's ETL flows land transactional tables via a
  * managed engine (tasks/Query History API to Delta_withmetrics.py:196-230);
  * this re-expresses the same contract on the other open format.
  */
object IcebergLite {

  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def metaDir(table: String)  = new Path(table, "metadata")
  private def dataDir(table: String)  = new Path(table, "data")
  private def hintFile(table: String) = new Path(metaDir(table), "version-hint.text")
  private def metaFile(table: String, v: Int) =
    new Path(metaDir(table), s"v$v.metadata.json")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------ Avro I/O
  /** Manifest entry (spec: `manifest_entry` wrapping `data_file`,
    * field-ids 0-2 / 100+). `block_size_in_bytes` is v1-required
    * (dropped in v2) — written for v1 conformance, ignored on read.
    */
  /** The spec's `map<int, binary>` bound maps (field-ids 125/128) encode
    * as Avro arrays of key/value records with `logicalType: map` — Avro
    * maps only key on strings.
    */
  private val BoundsFieldsJson: String =
    """{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128}""".stripMargin

  /** DATA-manifest entry, v2 encoding: the entry carries an explicit
    * nullable `sequence_number` (field-id 3) and data_file carries
    * `content` (field-id 134, always 0 = data here) — what real v2
    * readers expect when the table metadata says format-version 2.
    * Reads stay writer-schema driven ([[opt]]), so v1 manifests from
    * foreign/legacy writers still decode with list-level inheritance.
    */
  private val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int","field-id":134,"default":0},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104},
      |    {"name":"block_size_in_bytes","type":"long","field-id":105},
      |    $BoundsFieldsJson
      |  ]}}
      |]}""".stripMargin)

  /** v2 manifest-list entry: the v1 fields plus `content` (0 = data,
    * 1 = deletes; field-id 517) and `sequence_number` (field-id 515) —
    * what a delete commit writes so readers can route delete manifests
    * and order applicability. Reads stay writer-schema driven, so v1
    * lists (no such fields) and richer real-writer lists both decode.
    */
  private val ManifestListSchemaV2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","field-id":517},
      |  {"name":"sequence_number","type":"long","field-id":515},
      |  {"name":"added_snapshot_id","type":"long","field-id":503}
      |]}""".stripMargin)

  /** Manifest entry for DELETE manifests (spec v2 "Delete Manifests"):
    * the data_file struct gains `content` (1 = position deletes, 2 =
    * equality deletes; field-id 134) and `equality_ids` (the schema
    * field ids an equality delete matches on; field-id 135), and the
    * entry carries an explicit `sequence_number` (field-id 3) governing
    * which data files the deletes apply to.
    */
  private val DeleteManifestEntrySchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2d","fields":[
      |    {"name":"content","type":"int","field-id":134},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102d","fields":[]}},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}
      |  ]}}
      |]}""".stripMargin)

  /** v3 delete-manifest entry: the v2 delete shape plus the
    * deletion-vector placement triple (spec v3 "Deletion vectors"):
    * `referenced_data_file` (143), `content_offset` (144),
    * `content_size_in_bytes` (145) — a content=1 entry carrying them
    * points at a `deletion-vector-v1` blob inside a Puffin file instead
    * of a positional-delete parquet.
    */
  private val DeleteManifestEntrySchemaV3: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2d3","fields":[
      |    {"name":"content","type":"int","field-id":134},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102d3","fields":[]}},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135},
      |    {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |    {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |    {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |  ]}}
      |]}""".stripMargin)

  /** Field access tolerant of writer-schema variance (GenericRecord.get
    * THROWS on a name the writer schema lacks — v1 files have no
    * `content` field, v2 files do).
    */
  private def opt(r: GenericRecord, field: String): Option[AnyRef] =
    Option(r.getSchema.getField(field)).flatMap(_ => Option(r.get(field)))

  private def readAvro(f: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = f.open(p)
    val stream = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    try stream.iterator().asScala.toVector
    finally { stream.close() } // closes the underlying FSDataInputStream
  }

  private def writeAvro(f: FileSystem, p: Path, schema: Schema,
                        rows: Seq[GenericRecord],
                        meta: Map[String, String] = Map.empty): Long = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val out = f.create(p, true)
    try {
      w.create(schema, out)
      rows.foreach(w.append)
    } finally w.close()
    f.getFileStatus(p).getLen
  }

  // -------------------------------------------- Iceberg ⇄ Spark schemas
  /** Iceberg schema JSON → Spark StructType (spec "Schemas" — primitives
    * plus struct/list/map; `required` maps to non-nullable).
    */
  private[graft] def icebergToSpark(schema: JsonNode): StructType = {
    def convert(t: JsonNode): DataType =
      if (t.isTextual) primitive(t.asText())
      else t.get("type").asText() match {
        case "struct" => StructType(t.get("fields").elements().asScala.map { f =>
          StructField(f.get("name").asText(), convert(f.get("type")),
            nullable = !f.get("required").asBoolean())
        }.toSeq)
        case "list" => ArrayType(convert(t.get("element")),
          containsNull = !Option(t.get("element-required")).exists(_.asBoolean()))
        case "map" => MapType(convert(t.get("key")), convert(t.get("value")),
          valueContainsNull = !Option(t.get("value-required")).exists(_.asBoolean()))
        case other => sys.error(s"iceberg type unsupported: $other")
      }
    convert(schema).asInstanceOf[StructType]
  }

  /** Iceberg primitive type name → Spark type. */
  private def primitive(s: String): DataType = s match {
    case "boolean"     => BooleanType
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "date"        => DateType
    case "string"      => StringType
    case "uuid"        => StringType
    case "binary"      => BinaryType
    case "timestamp"   => TimestampNTZType
    case "timestamptz" => TimestampType
    case d if d.startsWith("decimal(") =>
      val Array(p, sc) = d.stripPrefix("decimal(").stripSuffix(")").split(",")
      DecimalType(p.trim.toInt, sc.trim.toInt)
    case f if f.startsWith("fixed[") => BinaryType
    case other => sys.error(s"iceberg primitive unsupported: $other")
  }

  /** Spark StructType → Iceberg schema JSON with spec-conformant unique
    * field ids (depth-first, 1-based — the id assignment real writers use
    * for a fresh table). Returns (schemaNode, lastColumnId).
    */
  private[graft] def sparkToIceberg(st: StructType,
                                    startId: Int = 0): (ObjectNode, Int) = {
    var id = startId
    def nextId(): Int = { id += 1; id }
    def convert(dt: DataType): Either[String, ObjectNode] = dt match {
      case BooleanType      => Left("boolean")
      case IntegerType      => Left("int")
      case ShortType        => Left("int")
      case ByteType         => Left("int")
      case LongType         => Left("long")
      case FloatType        => Left("float")
      case DoubleType       => Left("double")
      case DateType         => Left("date")
      case StringType       => Left("string")
      case BinaryType       => Left("binary")
      case TimestampNTZType => Left("timestamp")
      case TimestampType    => Left("timestamptz")
      case d: DecimalType   => Left(s"decimal(${d.precision}, ${d.scale})")
      case s: StructType =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val fields = n.putArray("fields")
        s.fields.foreach(f => fields.add(fieldNode(f)))
        Right(n)
      case ArrayType(e, containsNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", nextId())
        setType(n, "element", convert(e))
        n.put("element-required", !containsNull)
        Right(n)
      case MapType(k, v, valueNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", nextId())
        setType(n, "key", convert(k))
        n.put("value-id", nextId())
        setType(n, "value", convert(v))
        n.put("value-required", !valueNull)
        Right(n)
      case other => sys.error(s"spark type unsupported in iceberg: $other")
    }
    def setType(n: ObjectNode, key: String, t: Either[String, ObjectNode]): Unit =
      t match {
        case Left(s)     => n.put(key, s); ()
        case Right(node) => n.set(key, node); ()
      }
    def fieldNode(f: StructField): ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("id", nextId())
      n.put("name", f.name)
      n.put("required", !f.nullable)
      setType(n, "type", convert(f.dataType))
      n
    }
    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", 0)
    val fields = root.putArray("fields")
    st.fields.foreach(f => fields.add(fieldNode(f)))
    (root, id)
  }

  // ------------------------------------------------------------ reading
  /** Committed metadata versions, ascending (from `v<N>.metadata.json`
    * names; `version-hint.text` is a convenience pointer, not the truth).
    */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    val dir = metaDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json"))
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted
  }

  private def readMetadata(f: FileSystem, p: Path): JsonNode = {
    val in = f.open(p)
    try mapper.readTree(new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Latest table metadata (or a pinned metadata version). */
  def metadata(spark: SparkSession, table: String,
               version: Option[Int] = None): JsonNode = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"$table: no iceberg metadata")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"$table: metadata version $v not in $vs")
    val node = readMetadata(fs(spark, metaDir(table)), metaFile(table, v))
    val fv = node.get("format-version").asInt()
    // v3 accepted for READ: its delete shape (deletion vectors in
    // Puffin files, referenced per data file) resolves in
    // readWithDeletes; row-lineage columns are not surfaced. Anything
    // newer refuses loudly.
    require(fv <= 3, s"$table: iceberg format-version $fv unsupported — " +
      "refusing")
    node
  }

  /** The metadata's `snapshots` array, in append order (empty if absent). */
  private def snapshotsOf(meta: JsonNode): Seq[JsonNode] =
    Option(meta.get("snapshots")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)

  /** One manifest-list row (spec `manifest_file`): `content` 0 = data,
    * 1 = deletes; `seq` the manifest's sequence number; `specId` the
    * partition spec its files were written under. v1 lists lack the
    * last three fields and read as 0.
    */
  private final case class ListEntry(path: String, length: Long,
                                     content: Int, seq: Long, specId: Int)

  private def listEntries(f: FileSystem, table: String,
                          listRel: String): Seq[ListEntry] =
    readAvro(f, new Path(resolvePath(table, listRel))).map(r => ListEntry(
      r.get("manifest_path").toString,
      r.get("manifest_length").asInstanceOf[Long],
      opt(r, "content").map(_.asInstanceOf[Int]).getOrElse(0),
      opt(r, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L),
      opt(r, "partition_spec_id").map(_.asInstanceOf[Int]).getOrElse(0)))

  /** One live data file of a snapshot, as the manifests describe it.
    * `seq` is the v2 data sequence number (0 for v1 tables) — the
    * ordering key delete-file applicability is decided on.
    */
  final case class FileInfo(path: String, recordCount: Long, sizeBytes: Long,
                            partition: Map[String, String],
                            lowerBounds: Map[Int, Array[Byte]] = Map.empty,
                            upperBounds: Map[Int, Array[Byte]] = Map.empty,
                            seq: Long = 0L)

  /** One delete file of a v2 snapshot: `content` 1 = position deletes
    * (file_path + pos rows), 2 = equality deletes (rows of the columns
    * named by `equalityIds`); `seq` is the delete's sequence number —
    * position deletes apply to data files with dataSeq ≤ seq, equality
    * deletes to dataSeq < seq (the spec's strict ordering, which lets a
    * row re-inserted AFTER the delete survive it).
    */
  /** v3 deletion vectors extend the position-delete entry with the
    * referenced data file and the blob's placement inside the Puffin
    * file ([[refDataFile]]/[[contentOffset]]/[[contentSize]] — spec
    * field-ids 143/144/145); all None on v2-and-below entries.
    */
  final case class DeleteFileInfo(path: String, content: Int, seq: Long,
                                  equalityIds: Seq[Int],
                                  refDataFile: Option[String] = None,
                                  contentOffset: Option[Long] = None,
                                  contentSize: Option[Long] = None)

  /** Resolved snapshot state: data files + delete files + the
    * Spark-typed schema.
    */
  /** `schemaId` is the schema era this snapshot resolved under (None on
    * legacy metadata). `schemaHistory` (schema-id → field-id → name,
    * populated only when the table has evolved through >1 schema) and
    * `seqToSchemaId` (sequence number → write-era schema-id) are what
    * [[readWithDeletes]] uses to align files written under an earlier
    * era's names after a rename — zero extra I/O, both come from the
    * metadata already in hand.
    */
  final case class Snapshot(snapshotId: Long, schema: StructType,
                            detail: Seq[FileInfo],
                            deletes: Seq[DeleteFileInfo] = Seq.empty,
                            schemaId: Option[Int] = None,
                            schemaHistory: Map[Int, Map[Int, String]] = Map.empty,
                            seqToSchemaId: Map[Long, Int] = Map.empty) {
    def files: Seq[String] = detail.map(_.path)
  }

  /** [[resolvePath]] for FormatConvert's file handoff. */
  private[sources] def resolveDataPath(table: String, p: String): String =
    resolvePath(table, p)

  private def resolvePath(table: String, p: String): String = {
    // manifests may store absolute URIs (real writers) or table-relative
    // paths (ours); both resolve to a readable location
    val path = new Path(p)
    if (path.isAbsolute || p.contains(":/")) p
    else new Path(table, p).toString
  }

  /** One file identity for position deletes and deletion vectors. The
    * spec matches on the FULL `file_path`, not the base name — two files
    * with identical base names in different directories (foreign
    * partitioned layouts, converted tables mixing sources) must not
    * cross-apply deletes. The identity is the absolute path URL-encoded
    * the way Spark reports a scan's `_metadata.file_path` (a space reads
    * `%20`, a `+` stays a `+`), with the scheme and redundant slashes
    * stripped, so `file:///x`, `file:/x` and `/x` key alike. A scan path
    * is already in that form ([[scanKey]], [[scanKeyCol]]); a manifest or
    * delete-file path, relative to the table root or absolute and never
    * encoded, goes through [[fileKey]].
    */
  private def scanKey(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:/*", "/").replaceFirst("^/+", "/")

  /** [[scanKey]] of a manifest path `p`, resolved against the qualified
    * table `root` ([[tableRoot]]) when relative.
    */
  private def fileKey(root: Path, p: String): String = {
    val path = new Path(p)
    scanKey((if (path.isAbsolute || p.contains(":/")) path
      else new Path(root, p)).toUri.toString)
  }

  /** The qualified table root [[fileKey]] resolves relative paths against. */
  private def tableRoot(spark: SparkSession, table: String): Path =
    fs(spark, new Path(table)).makeQualified(new Path(table))

  /** Column twin of [[scanKey]] — runs per row on the scan/delete sides,
    * pure string ops (stays in codegen).
    */
  private def scanKeyCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(
      regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.\\-]*:/*", "/"), "^/+", "/")
  }

  /** Resolve a snapshot (current, or pinned by snapshot id) to its data
    * file list by walking manifest-list → manifests. Refuses v2 DELETE
    * manifests and delete-content data files rather than returning rows
    * that row-level deletes should have masked.
    */
  def snapshot(spark: SparkSession, table: String,
               snapshotId: Option[Long] = None): Snapshot = {
    val meta = metadata(spark, table)
    val f = fs(spark, metaDir(table))
    val snaps = snapshotsOf(meta)
    require(snaps.nonEmpty, s"$table: no snapshots")
    val targetId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snap = snaps.find(_.get("snapshot-id").asLong() == targetId)
      .getOrElse(sys.error(s"$table: snapshot $targetId not found " +
        "(expired, or never committed)"))

    // schema resolution: the LATEST snapshot reads under the table's
    // CURRENT schema (so a rename is visible immediately); a PINNED
    // time-travel snapshot reads under its own era's schema-id — the
    // names a reader of that snapshot saw then. "schemas" list (v2) or
    // the legacy single "schema" (v1 writers).
    val isCurrent = targetId == meta.get("current-snapshot-id").asLong()
    val wantSid: Option[Int] =
      if (isCurrent) Option(meta.get("current-schema-id")).map(_.asInt())
      else Option(snap.get("schema-id")).map(_.asInt())
        .orElse(Option(meta.get("current-schema-id")).map(_.asInt()))
    val schemaNode = Option(meta.get("schemas")).flatMap { arr =>
      wantSid.flatMap(want => arr.elements().asScala.find(s =>
        Option(s.get("schema-id")).exists(_.asInt() == want)))
    }.orElse(Option(meta.get("schema")))
      .getOrElse(sys.error(s"$table: metadata has no schema"))
    val schema = icebergToSpark(schemaNode)

    // manifest list (normal) or legacy inline "manifests" array. v2
    // lists route by `content`: 0 = data manifests, 1 = DELETE manifests
    // (position/equality delete files) — both read here; per-manifest
    // sequence numbers carry into applicability ordering.
    val manifestEntries: Seq[(String, Int, Long)] =
      Option(snap.get("manifest-list")) match {
        case Some(ml) =>
          listEntries(f, table, ml.asText()).map(e => (e.path, e.content, e.seq))
        case None => Option(snap.get("manifests"))
          .map(_.elements().asScala.map(a => (a.asText(), 0, 0L)).toSeq)
          .getOrElse(sys.error(s"$table: snapshot $targetId has no manifest list"))
      }

    // a DELETED entry in any manifest of the snapshot masks the file's
    // ADDED entry in an earlier manifest (the partial-rewrite shape:
    // selective merges keep old manifests and tombstone replaced files
    // in the new one)
    val deleted = scala.collection.mutable.Set.empty[String]
    val deleteFiles = Seq.newBuilder[DeleteFileInfo]
    val files = manifestEntries.flatMap { case (mp, mContent, mSeq) =>
      readAvro(f, new Path(resolvePath(table, mp))).flatMap { e =>
        val status = e.get("status").asInstanceOf[Int]
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val entrySeq = opt(e, "sequence_number")
          .collect { case l: java.lang.Long => l.longValue() }.getOrElse(mSeq)
        val content = opt(df, "content").map(_.asInstanceOf[Int]).getOrElse(0)
        if (status == 2) { // DELETED: file dropped at this snapshot
          deleted += df.get("file_path").toString
          None
        } else if (mContent == 1 || content > 0) {
          require(content == 1 || content == 2,
            s"$table: delete file with content=$content — not in the v2 " +
              "vocabulary, refusing")
          val eqIds = opt(df, "equality_ids") match {
            case Some(arr: java.util.Collection[_]) =>
              arr.asScala.map(_.asInstanceOf[Int]).toSeq
            case _ => Seq.empty[Int]
          }
          require(content == 1 || eqIds.nonEmpty,
            s"$table: equality delete file without equality_ids — refusing")
          // v3 DV entries: referenced data file + blob placement
          val refFile = opt(df, "referenced_data_file").map(_.toString)
          val cOff = opt(df, "content_offset")
            .collect { case l: java.lang.Long => l.longValue() }
          val cSize = opt(df, "content_size_in_bytes")
            .collect { case l: java.lang.Long => l.longValue() }
          require(cOff.isEmpty || (refFile.nonEmpty && cSize.nonEmpty),
            s"$table: deletion-vector entry missing referenced_data_file/" +
              "content_size_in_bytes — refusing")
          deleteFiles += DeleteFileInfo(df.get("file_path").toString,
            content, entrySeq, eqIds, refFile, cOff, cSize)
          None
        } else {
          val part = Option(df.get("partition"))
            .map(_.asInstanceOf[GenericRecord]) match {
              case Some(p) => p.getSchema.getFields.asScala.map(fl =>
                fl.name() -> Option(p.get(fl.name())).map(_.toString).orNull)
                .toMap
              case None => Map.empty[String, String]
            }
          def boundsOf(field: String): Map[Int, Array[Byte]] =
            opt(df, field) match {
              case Some(arr: java.util.Collection[_]) =>
                arr.asScala.collect { case r: GenericRecord =>
                  val bb = r.get("value")
                    .asInstanceOf[java.nio.ByteBuffer].duplicate()
                  val bytes = new Array[Byte](bb.remaining())
                  bb.get(bytes)
                  r.get("key").asInstanceOf[Int] -> bytes
                }.toMap
              case _ => Map.empty
            }
          Some(FileInfo(df.get("file_path").toString,
            opt(df, "record_count").map(_.asInstanceOf[Long]).getOrElse(-1L),
            opt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(-1L),
            part, boundsOf("lower_bounds"), boundsOf("upper_bounds"),
            entrySeq))
        }
      }
    }.distinctBy(_.path).filterNot(fi => deleted.contains(fi.path))
    // schema-era maps for rename alignment — only materialized when the
    // table actually evolved through more than one schema
    val schemaHistory: Map[Int, Map[Int, String]] =
      Option(meta.get("schemas")).map(_.elements().asScala.toSeq.flatMap { sn =>
        Option(sn.get("schema-id")).map(_.asInt()).map(_ ->
          sn.get("fields").elements().asScala
            .map(fn => fn.get("id").asInt() -> fn.get("name").asText()).toMap)
      }.toMap).filter(_.size > 1).getOrElse(Map.empty)
    val seqToSid: Map[Long, Int] =
      if (schemaHistory.isEmpty) Map.empty
      else snaps.flatMap { sn =>
        for {
          sq  <- Option(sn.get("sequence-number")).map(_.asLong())
          sid <- Option(sn.get("schema-id")).map(_.asInt())
        } yield sq -> sid
      }.toMap
    Snapshot(targetId, schema, files,
      // several DV entries legitimately share ONE Puffin file_path —
      // identity for dedup is (path, referenced file, blob offset)
      deleteFiles.result().distinctBy(d =>
        (d.path, d.refDataFile, d.contentOffset))
        .filterNot(d => deleted.contains(d.path)),
      wantSid, schemaHistory, seqToSid)
  }

  /** Metadata-only scan planning (the format's 100 TB value proposition:
    * the file set, sizes, row counts, and partition values come from
    * manifests — the data and the directory listing are never touched).
    * One row per live data file; filter this frame on `partition` and
    * hand the surviving paths to [[readFiles]] for a manifest-pruned
    * scan. Doubles as the DESCRIBE FILES inventory.
    */
  def planFiles(spark: SparkSession, table: String,
                snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    snapshot(spark, table, snapshotId).detail
      .map(fi => (fi.path, fi.recordCount, fi.sizeBytes, fi.partition))
      .toDF("file_path", "record_count", "file_size_in_bytes", "partition")
  }

  /** Read an IcebergLite/Iceberg table as a DataFrame at the current or a
    * pinned snapshot. The file list feeds Spark's parquet source with the
    * metadata schema — an empty snapshot yields an empty frame WITH the
    * committed schema, and scans keep pushdown + pruning (spec-pinned).
    */
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, table, snapshotId)
    readWithDeletes(spark, table, s, s.detail)
  }

  /** Scan `subset` of a snapshot's data files with row-level deletes
    * applied (merge-on-read). POSITION deletes — v2 position-delete files
    * and v3 deletion vectors alike — fold into one row-index bitmap per
    * data file ([[positionBitmaps]]) and apply through the broadcast
    * [[DvProbe]] that Delta's DV reads use: no join, and the probe keys
    * each file by its full path (the spec matches on `file_path`;
    * [[fileKey]] keeps identically-named files in different directories
    * apart). EQUALITY deletes anti-join on the
    * columns their `equality_ids` name, applicable strictly dataSeq <
    * deleteSeq, so a row re-inserted after the delete survives it (the
    * spec's ordering). Files split into read groups only where the plan
    * must differ: by the schema era they were written under (rename
    * alignment) and by the equality deletes that govern them; a table
    * with neither reads in ONE scan per partition layout.
    */
  private def readWithDeletes(spark: SparkSession, table: String,
                              s: Snapshot, subset: Seq[FileInfo],
                              keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // rename-era alignment applies when the table evolved through more
    // than one schema AND this snapshot resolved a known era
    val targetEra: Map[Int, String] =
      s.schemaId.flatMap(s.schemaHistory.get).getOrElse(Map.empty)
    val targetId: Map[String, Int] = targetEra.map(_.swap)
    // the field-id → name map a file was written under, when it differs
    // from the target era's (None: read the target schema by name)
    def writtenEra(seq: Long): Option[Map[Int, String]] =
      if (targetEra.isEmpty) None
      else s.seqToSchemaId.get(seq).flatMap(s.schemaHistory.get)
        .filter(_ != targetEra)
    val eqDeletes = s.deletes.filter(_.content == 2)
    val groups = subset.groupBy(fi =>
      (writtenEra(fi.seq), eqDeletes.filter(_.seq > fi.seq)))
      .toSeq.sortBy(_._2.map(_.seq).min)
    if (!s.deletes.exists(_.content == 1) && !keepMeta &&
        groups.forall(g => g._1 == ((None, Nil))))
      return readFileList(spark, table, s.schema, subset.map(_.path))
    val root = tableRoot(spark, table)
    val bitmaps = positionBitmaps(spark, table, s, subset, root)
    val bc = if (bitmaps.isEmpty) None
      else Some(spark.sparkContext.broadcast(
        bitmaps.map { case (k, b) => k -> b.serialize() }))
    val withMeta = keepMeta || bc.isDefined
    val metaCols = if (withMeta) Seq(col("__if"), col("__ip")) else Nil
    val dataCols = s.schema.fieldNames.toIndexedSeq.map(n => col(s"`$n`")) ++
      (if (keepMeta) metaCols else Nil)
    lazy val fieldNames: Map[Int, String] =
      if (targetEra.nonEmpty) targetEra
      else currentSchemaNode(metadata(spark, table), table).get("fields")
        .elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val parts = groups.map { case ((era, eqs), files) =>
      val paths = files.map(_.path)
      val raw = era match {
        case None => readFileList(spark, table, s.schema, paths, withMeta)
        case Some(written) =>
          // align by field id over the fields both eras share: read
          // under the written name, relabel to the target's; a target
          // field the written era lacks reads as NULL
          def source(f: StructField): Option[String] =
            targetId.get(f.name).fold(Option(f.name))(written.get)
          val readSchema = StructType(s.schema.fields.flatMap(f =>
            source(f).map(wn => f.copy(name = wn))))
          readFileList(spark, table, readSchema, paths, withMeta)
            .select(s.schema.fields.toIndexedSeq.map(f => source(f) match {
              case Some(wn) => col(s"`$wn`").as(f.name)
              case None     => lit(null).cast(f.dataType).as(f.name)
            }) ++ metaCols: _*)
      }
      val masked = bc match {
        case Some(b) if files.exists(fi =>
            bitmaps.contains(fileKey(root, fi.path))) =>
          raw.filter(!DeletionVectors.dvDeleted(b, col("__if"), col("__ip"),
            scanKey))
        case _ => raw
      }
      eqs.groupBy(_.equalityIds).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(masked) { case (df, (ids, dels)) =>
          val cols = ids.map(id => fieldNames.getOrElse(id,
            sys.error(s"$table: equality_ids references unknown field $id")))
          val eqDf = spark.read
            .parquet(dels.map(d => resolvePath(table, d.path)): _*)
            .select(cols.map(n => col(s"`$n`")): _*).distinct()
          df.join(eqDf, cols, "left_anti")
        }.select(dataCols: _*)
    }
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (keepMeta) withMetaFields(s.schema) else s.schema))
  }

  /** A parquet file's row count and per-column null counts, from its
    * footer alone. A column any of whose chunks lacks a null count is
    * absent from the map.
    */
  private def footerCounts(conf: org.apache.hadoop.conf.Configuration,
                           p: Path): (Long, Map[String, Long]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nulls = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString).flatMap { case (c, chunks) =>
          val st = chunks.map(_.getStatistics)
          if (st.forall(x => x != null && x.isNumNullsSet))
            Some(c -> st.map(_.getNumNulls).sum)
          else None
        }
      (blocks.map(_.getRowCount).sum, nulls)
    } finally reader.close()
  }

  /** `schema` plus the two metadata columns merge-on-read scans carry:
    * `__if` (the scan's `_metadata.file_path`) and `__ip` (the row's
    * index in its file).
    */
  private def withMetaFields(schema: StructType): StructType =
    schema.add("__if", StringType).add("__ip", LongType)

  /** The live position deletes of `subset`, folded into one row-index
    * bitmap per data file keyed by [[fileKey]]: v2 position-delete
    * files, streamed on the driver by [[readPositionDeletes]] (no Spark
    * job), and v3 deletion vectors, each blob read once. A delete applies
    * to a file when the file's data sequence number is ≤ the delete's;
    * rows naming files outside `subset` are skipped. Driver memory is the
    * bitmaps alone, ∝ the live deleted positions of `subset` (roaring:
    * about 2 bytes a position while sparse, at most 8 KiB per 65 536-row
    * block), never the data or the delete files' size.
    */
  private def positionBitmaps(spark: SparkSession, table: String,
                              s: Snapshot, subset: Seq[FileInfo],
                              root: Path)
      : Map[String, DeletionVectors.Bitmap64] = {
    val (dvs, posFiles) = s.deletes.filter(_.content == 1)
      .partition(_.contentOffset.isDefined)
    if (subset.isEmpty || (dvs.isEmpty && posFiles.isEmpty)) return Map.empty
    val fileSeq: Map[String, Long] =
      subset.map(fi => fileKey(root, fi.path) -> fi.seq).toMap
    val out = scala.collection.mutable.HashMap.empty[String, DeletionVectors.Bitmap64]
    val fsys = fs(spark, new Path(table))
    posFiles.foreach { d =>
      // delete files are sorted by file_path: canonicalize once a run
      var lastRaw: String = null
      var target: DeletionVectors.Bitmap64 = null
      readPositionDeletes(fsys.getConf, new Path(resolvePath(table, d.path))) {
        (raw, pos) =>
          if (raw != lastRaw) {
            lastRaw = raw
            val c = fileKey(root, raw)
            target =
              if (fileSeq.get(c).exists(_ <= d.seq))
                out.getOrElseUpdate(c, new DeletionVectors.Bitmap64())
              else null
          }
          if (target != null) target.add(pos)
      }
    }
    dvs.groupBy(d => (d.path, d.contentOffset.get)).foreach {
      case ((p, off), ds) =>
        val refs = ds.map(d => (fileKey(root, d.refDataFile.get), d.seq))
          .collect { case (r, sq) if fileSeq.get(r).exists(_ <= sq) => r }
          .distinct
        if (refs.nonEmpty) {
          val bm = DeletionVectors.Bitmap64.deserialize(Puffin.dvBitmap(
            Puffin.readBlob(fsys, new Path(resolvePath(table, p)), off,
              ds.head.contentSize.get)))
          refs.foreach(r => out(r) = out.get(r).fold(bm)(_.or(bm)))
        }
    }
    out.toMap
  }

  /** Stream one v2 position-delete file's `(file_path, pos)` rows on the
    * driver: one footer open and a plain read of the two spec columns (a
    * foreign file's optional `row` column is never read). A missing
    * column or a null in either fails loudly — a delete that cannot be
    * read must never silently un-delete a row.
    */
  private def readPositionDeletes(conf: org.apache.hadoop.conf.Configuration,
                                  p: Path)(each: (String, Long) => Unit): Unit = {
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.MessageType
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = reader.getFooter.getFileMetaData
      val fileSchema = footer.getSchema
      def field(n: String) = fileSchema.getType(fileSchema.getFieldIndex(n))
      val proj = new MessageType(fileSchema.getName, field("file_path"),
        field("pos"))
      reader.setRequestedSchema(proj)
      val pathDesc = proj.getColumnDescription(Array("file_path"))
      val posDesc = proj.getColumnDescription(Array("pos"))
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(proj).getRootConverter, proj,
          footer.getCreatedBy)
        val paths = store.getColumnReader(pathDesc)
        val poss = store.getColumnReader(posDesc)
        var i = 0L
        while (i < pages.getRowCount) {
          require(
            paths.getCurrentDefinitionLevel == pathDesc.getMaxDefinitionLevel &&
              poss.getCurrentDefinitionLevel == posDesc.getMaxDefinitionLevel,
            s"$p: null file_path/pos in a position-delete file — refusing")
          each(paths.getBinary.toStringUsingUTF8, poss.getLong)
          paths.consume()
          poss.consume()
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
  }

  type SkippingScan = DataFiles.SkippingScan
  val SkippingScan = DataFiles.SkippingScan

  /** The CURRENT schema node (`schemas` keyed by `current-schema-id`, or
    * the legacy single `schema`).
    */
  private def currentSchemaNode(meta: JsonNode, table: String): JsonNode =
    Option(meta.get("schemas"))
      .map(_.elements().asScala.toSeq)
      .flatMap { seq =>
        Option(meta.get("current-schema-id")).map(_.asInt()) match {
          case Some(id) =>
            seq.find(s => Option(s.get("schema-id")).exists(_.asInt() == id))
              .orElse(seq.headOption)
          case None => seq.headOption
        }
      }
      .orElse(Option(meta.get("schema")))
      .getOrElse(sys.error(s"$table: metadata has no schema"))

  /** Resolve a top-level primitive column's (iceberg type, field id)
    * from already-parsed table metadata — the key for the manifest bound
    * maps. Resolves the CURRENT schema by `current-schema-id` (an
    * evolved external table's `schemas` array holds every historical
    * schema; head would be the oldest).
    */
  private def topField(meta: JsonNode, table: String,
                       name: String): (String, Int) = {
    val fieldNode = currentSchemaNode(meta, table).get("fields")
      .elements().asScala
      .find(_.get("name").asText() == name)
      .getOrElse(sys.error(s"$table: no column $name"))
    require(fieldNode.get("type").isTextual,
      s"$table.$name: bounds pruning needs a primitive column")
    (fieldNode.get("type").asText(), fieldNode.get("id").asInt())
  }

  /** The DEFAULT partition spec's fields — `partition-specs` keyed by
    * `default-spec-id` (v2) or the legacy flat `partition-spec` (v1).
    */
  private[graft] def partitionSpecFields(meta: JsonNode)
      : Seq[IcebergTransforms.PartField] = {
    val specId = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("partition-specs"))
      .flatMap(arr => arr.elements().asScala
        .find(s => Option(s.get("spec-id")).exists(_.asInt() == specId))
        .map(_.get("fields").elements().asScala.toSeq))
      .orElse(Option(meta.get("partition-spec"))
        .map(_.elements().asScala.toSeq))
      .getOrElse(Seq.empty)
      .map(n => IcebergTransforms.PartField(n.get("name").asText(),
        n.get("transform").asText(), n.get("source-id").asInt()))
  }

  /** Iceberg types whose single-value bounds this reader decodes — the
    * types its writer records ([[manifestBounds]]). A foreign writer's
    * bounds on any other type (uuid, date, ...) are never compared.
    */
  private val BoundedTypes = Set("int", "long", "float", "double", "string")

  /** Stats-pruned READ on the Iceberg side — the manifests' spec
    * `lower_bounds`/`upper_bounds` maps applied to scan planning, the
    * Delta [[DeltaLite.readWhere]] counterpart: files whose recorded
    * bound range on `keyCol` cannot contain a row in `[lo, hi]` are
    * dropped from the plan using MANIFEST METADATA ONLY (no data or
    * listing I/O — planFiles' 100 TB planning story, now per column, not
    * just per partition); survivors scan with the residual predicate
    * pushed down ([[DataFiles.readWhere]], the shared comparison
    * domain). Files from writers that recorded no bounds scan
    * conservatively; a non-primitive key type is refused.
    */
  def readWhere(spark: SparkSession, table: String, keyCol: String,
                lo: Any, hi: Any): SkippingScan = {
    val (tpe, fid) = topField(metadata(spark, table), table, keyCol)
    require(BoundedTypes(tpe),
      s"$table.$keyCol: bounds pruning unsupported for type $tpe")
    val dt = primitive(tpe)
    val snap = snapshot(spark, table)
    DataFiles.readWhere(table, keyCol, dt, lo, hi, snap.detail)(
      bounds(dt, fid))(readWithDeletes(spark, table, snap, _))
  }

  /** One source-column predicate for [[readWherePart]]: a range
    * (`lo`/`hi`, inclusive) or an equality (`eq`). Timestamp/date
    * bounds accept `java.sql.Timestamp`/`Date` or ISO strings
    * (`"1994-01-01"`, `"1994-01-01T12:00:00"`), read as UTC.
    */
  final case class PartPred(col: String, lo: Any = null, hi: Any = null,
                            eq: Any = null) {
    require((eq != null) != (lo != null && hi != null),
      s"PartPred($col): give eq OR lo+hi")
  }

  /** PARTITION-TRANSFORM file pruning (spec "Scan Planning"): for each
    * predicate on a SOURCE column, drop every data file whose manifest
    * partition value under the table's spec transforms cannot contain a
    * matching row — `days(ts)`/`months`/`years`/`hours` prune ranges,
    * `bucket[N]` prunes equalities (the hash is the spec's murmur3, so
    * this is valid on FOREIGN bucket-partitioned tables too),
    * `truncate[W]` prunes both (order-preserving), identity prunes both.
    * Planning is manifest-metadata only (O(files) driver work, zero data
    * I/O — at 100 TB on a days-partitioned table a one-week predicate
    * plans away ~99.9% of the scan before Spark sees a path). Survivors
    * scan with the residual predicates pushed down; `void`, unknown
    * transforms, and files with null partition values scan
    * conservatively. Complements [[readWhere]]'s column-bound pruning —
    * partition values prune even where a writer recorded no bounds
    * (e.g. timestamp columns).
    */
  def readWherePart(spark: SparkSession, table: String,
                    preds: Seq[PartPred]): SkippingScan = {
    import org.apache.spark.sql.functions.col
    val meta = metadata(spark, table)
    val spec = partitionSpecFields(meta)
    val idToField: Map[Int, (String, String)] =
      currentSchemaNode(meta, table).get("fields").elements().asScala
        .map(f => f.get("id").asInt() ->
          (f.get("name").asText(),
            if (f.get("type").isTextual) f.get("type").asText() else "complex"))
        .toMap
    val snap = snapshot(spark, table)
    var kept = snap.detail
    preds.foreach { p =>
      spec.filter(tf => idToField.get(tf.sourceId).exists(_._1 == p.col))
        .foreach { tf =>
          val tpe = idToField(tf.sourceId)._2
          kept = kept.filter(fi =>
            partMayMatch(tf, tpe, fi.partition.get(tf.name), p))
        }
    }
    val base = readWithDeletes(spark, table, snap, kept)
    val filtered = preds.foldLeft(base) { (d, p) =>
      if (p.eq != null) d.filter(col(p.col) === p.eq)
      else d.filter(col(p.col) >= p.lo && col(p.col) <= p.hi)
    }
    SkippingScan(filtered, kept.size, snap.detail.size - kept.size)
  }

  /** Can a file with partition value `pv` under spec field `tf` contain
    * a row matching `p`? Missing/null values and unprunable shapes
    * (bucket under a range, unknown transforms) answer true — pruning
    * must never be a correctness dependency.
    */
  private def partMayMatch(tf: IcebergTransforms.PartField, icebergType: String,
                           pv: Option[String], p: PartPred): Boolean = {
    val v = pv.orNull
    if (v == null) return true
    val isEq = p.eq != null
    val T = IcebergTransforms
    tf.transform match {
      case "identity" if BoundedTypes(icebergType) =>
        // same comparison domain as readWhere's bound pruning
        val dt = primitive(icebergType)
        val x = DataFiles.key(dt, v)
        if (isEq) x.compareTo(DataFiles.key(dt, p.eq)) == 0
        else x.compareTo(DataFiles.key(dt, p.lo)) >= 0 &&
          x.compareTo(DataFiles.key(dt, p.hi)) <= 0
      case "identity" => true
      case t if T.isTimeTransform(t) =>
        val x = v.toLong
        if (isEq) x == T.timeValue(t, icebergType, p.eq)
        else x >= T.timeValue(t, icebergType, p.lo) &&
          x <= T.timeValue(t, icebergType, p.hi)
      case t if T.bucketN(t).isDefined =>
        if (!isEq) true
        else v.toInt == T.bucketOf(icebergType, p.eq, T.bucketN(t).get)
      case t if T.truncW(t).isDefined =>
        val w = T.truncW(t).get
        icebergType match {
          case "int" | "long" =>
            val x = v.toLong
            if (isEq) x == T.truncateOf(icebergType, p.eq, w).asInstanceOf[Long]
            else x >= T.truncateOf(icebergType, p.lo, w).asInstanceOf[Long] &&
              x <= T.truncateOf(icebergType, p.hi, w).asInstanceOf[Long]
          case "string" =>
            // prefix truncation is monotone: row ∈ [lo,hi] ⇒
            // trunc(lo) ≤ pv ≤ trunc(hi) — compared in the UNSIGNED
            // UTF-8 byte domain (DataFiles.key), the order parquet
            // stats and Spark binary comparison use; Java String
            // ordering diverges for supplementary-plane characters
            if (isEq) v == T.truncateOf(icebergType, p.eq, w)
            else {
              def k(x: Any) = DataFiles.key(StringType, x)
              k(v).compareTo(k(T.truncateOf(icebergType, p.lo, w))) >= 0 &&
                k(v).compareTo(k(T.truncateOf(icebergType, p.hi, w))) <= 0
            }
          case _ => true
        }
      case _ => true // void / unknown: scan conservatively
    }
  }

  /** Scan an explicit subset of a snapshot's files (the consumer half of
    * [[planFiles]]-driven manifest pruning). Paths must come from the
    * same table's manifests.
    */
  def readFiles(spark: SparkSession, table: String, files: Seq[String],
                snapshotId: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, table, snapshotId)
    val live = s.files.toSet
    require(files.forall(live.contains),
      s"$table: readFiles paths must be manifest-listed data files")
    val want = files.toSet
    readWithDeletes(spark, table, s, s.detail.filter(fi => want(fi.path)))
  }

  /** Scan `files` under `schema`, one scan per partition layout. With
    * `withMeta` every layout's scan also carries `__if` and `__ip`
    * ([[withMetaFields]]), attached inside the layout's own scan: above
    * the union of layouts `_metadata` no longer resolves.
    */
  private def readFileList(spark: SparkSession, table: String,
                           schema: StructType, files: Seq[String],
                           withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val paths = files.map(p => resolvePath(table, p))
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (withMeta) withMetaFields(schema) else schema)
    def addMeta(d: DataFrame): DataFrame =
      if (!withMeta) d
      else d.select(col("*"), col("_metadata.file_path").as("__if"),
        col("_metadata.row_index").as("__ip"))
    val out = schema.fieldNames.toIndexedSeq.map(n => col(s"`$n`")) ++
      (if (withMeta) Seq(col("__if"), col("__ip")) else Nil)
    // partition-spec EVOLUTION leaves one snapshot spanning several
    // directory layouts (old files under id_bucket=N/, new under
    // grp_bucket=M/, or at the root) — one basePath discovery over the
    // mix dies on conflicting partition column names, so group files by
    // their hive-key signature and give each group its own consistent
    // read; single-layout snapshots (the steady state) stay ONE scan.
    val KeyRe = """([^/=]+)=[^/]*""".r
    def signature(p: String): Seq[String] = {
      val rel = p.stripPrefix(table).stripPrefix("/")
      KeyRe.findAllMatchIn(rel)
        .filter(m => rel.indexOf('/', m.start) >= 0) // dir components only
        .map(_.group(1)).toSeq
    }
    val groups = paths.groupBy(signature).toSeq.sortBy(_._1.mkString(","))
    val frames = groups.map { case (sig, ps) =>
      if (sig.isEmpty) addMeta(spark.read.schema(schema).parquet(ps: _*))
      else {
        // hive-layout group: partition columns live in the directory
        // names, not the data files — basePath discovery re-attaches
        // them (and gives Catalyst real PartitionFilters pruning).
        // Discovery infers partition value types, so re-cast drifted
        // columns to the committed schema and restore column order.
        val raw = addMeta(spark.read.option("basePath", table).parquet(ps: _*))
        val typed = schema.fields.foldLeft(raw) { (d, fld) =>
          if (d.schema.fieldNames.contains(fld.name) &&
              d.schema(fld.name).dataType != fld.dataType)
            d.withColumn(fld.name, col(s"`${fld.name}`").cast(fld.dataType))
          else d
        }
        typed.select(out: _*)
      }
    }
    frames.reduce(_.unionByName(_))
  }

  // ------------------------------------------------------------ writing
  /** A type node with every field/element/key/value id removed — the
    * id-insensitive comparison domain for "same type, different era"
    * checks (ids are assignment artifacts, not type identity).
    */
  private def stripTypeIds(t: JsonNode): JsonNode = t match {
    case o: ObjectNode =>
      val c = o.deepCopy[ObjectNode]()
      c.remove("element-id"); c.remove("key-id"); c.remove("value-id")
      Option(c.get("fields")).foreach(_.elements().asScala.foreach {
        case fo: ObjectNode =>
          fo.remove("id")
          fo.set[JsonNode]("type", stripTypeIds(fo.get("type")))
          ()
        case _ =>
      })
      Seq("element", "key", "value").foreach(k =>
        Option(c.get(k)).foreach(v => c.set[JsonNode](k, stripTypeIds(v))))
      c
    case other => other // textual primitive
  }

  private def record(schema: Schema)(fields: (String, Any)*): GenericRecord = {
    val r = new GenericData.Record(schema)
    fields.foreach { case (k, v) => r.put(k, v) }
    r
  }

  /** Avro primitive for a partition column (identity transform keeps the
    * source type; the manifest stores the typed value, spec "Partition
    * Transforms").
    */
  private def partitionAvroType(dt: DataType): String = dt match {
    case LongType                           => "long"
    case IntegerType | ShortType | ByteType => "int"
    case StringType                         => "string"
    case BooleanType                        => "boolean"
    case DoubleType                         => "double"
    case FloatType                          => "float"
    case other => sys.error(s"partition column type unsupported: $other")
  }

  /** Manifest-entry schema with the r102 partition record carrying one
    * nullable typed field per partition column (empty = the static
    * unpartitioned schema).
    */
  private def manifestEntrySchema(partCols: Seq[StructField]): Schema =
    if (partCols.isEmpty) ManifestEntrySchema
    else {
      val fields = partCols.zipWithIndex.map { case (c, i) =>
        s"""{"name":${mapper.writeValueAsString(c.name)},"type":["null","${partitionAvroType(c.dataType)}"],"default":null,"field-id":${1000 + i}}"""
      }.mkString(",")
      new Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
           |  {"name":"status","type":"int","field-id":0},
           |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
           |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
           |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
           |    {"name":"content","type":"int","field-id":134,"default":0},
           |    {"name":"file_path","type":"string","field-id":100},
           |    {"name":"file_format","type":"string","field-id":101},
           |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$fields]}},
           |    {"name":"record_count","type":"long","field-id":103},
           |    {"name":"file_size_in_bytes","type":"long","field-id":104},
           |    {"name":"block_size_in_bytes","type":"long","field-id":105},
           |    $BoundsFieldsJson
           |  ]}}
           |]}""".stripMargin)
    }

  /** A data file's footer stats — the manifest's `record_count` is
    * spec-required, so an unreadable footer fails the commit.
    */
  private def footerOf(table: String, p: Path,
                       st: Option[DataFiles.FooterStats]): DataFiles.FooterStats =
    st.getOrElse(sys.error(s"$table: no parquet footer for data file $p"))

  /** A file's footer [min, max] ([[DataFiles.footerStats]]) as the
    * spec's single-value binary (little-endian numerics, UTF-8 strings),
    * keyed by Iceberg field id — the payload of the manifest's
    * `lower_bounds`/`upper_bounds` maps. Only top-level int/long/float/
    * double/string columns whose footer value has the TABLE's type are
    * recorded (a raw binary column never reaches string bounds);
    * consumers treat a missing bound conservatively.
    */
  private def manifestBounds(st: DataFiles.FooterStats,
                             topFields: Map[String, (Int, DataType)])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    val recorded = st.bounds.flatMap { case (name, (mn, mx)) =>
      topFields.get(name).filter { case (_, dt) => (dt, mn) match {
        case (StringType, _: DataFiles.Utf8Bytes) |
             (IntegerType, _: java.lang.Integer) |
             (LongType, _: java.lang.Long) |
             (FloatType, _: java.lang.Float) |
             (DoubleType, _: java.lang.Double) => true
        case _ => false
      }}.map { case (id, _) =>
        (id, singleValueBytes(mn), singleValueBytes(mx))
      }
    }
    (recorded.map(r => r._1 -> r._2).toMap, recorded.map(r => r._1 -> r._3).toMap)
  }

  /** A manifest entry's `lower_bounds`/`upper_bounds` value: the union
    * [null, array-with-map-logicalType] of (field id, bound) records,
    * sorted by id; null when no bound was recorded.
    */
  private def boundsArray(dataFileSchema: Schema, fieldName: String,
                          m: Map[Int, Array[Byte]]): AnyRef =
    if (m.isEmpty) null
    else {
      val arrSchema = dataFileSchema.getField(fieldName).schema()
        .getTypes.get(1)
      val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        arr.add(record(arrSchema.getElementType)(
          "key" -> k, "value" -> java.nio.ByteBuffer.wrap(v)))
      }
      arr
    }

  /** Spec "Binary single-value serialization": little-endian numerics,
    * UTF-8 strings.
    */
  private def singleValueBytes(v: Any): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    v match {
      case i: java.lang.Integer   => le(4).putInt(i).array()
      case l: java.lang.Long      => le(8).putLong(l).array()
      case f: java.lang.Float     => le(4).putFloat(f).array()
      case d: java.lang.Double    => le(8).putDouble(d).array()
      case u: DataFiles.Utf8Bytes => u.bytes
    }
  }

  /** A file's manifest [lower, upper] bound on field `fid`, decoded from
    * the spec's single-value binary for a `dt` key ([[DataFiles.key]]
    * compares it); None when the writer recorded none.
    */
  private def bounds(dt: DataType, fid: Int)(fi: FileInfo): Option[(Any, Any)] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def decode(b: Array[Byte]): Any = {
      def le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      dt match {
        case StringType  => new DataFiles.Utf8Bytes(b)
        case IntegerType => le.getInt
        case LongType    => le.getLong
        case FloatType   => le.getFloat
        case DoubleType  => le.getDouble
        case other       => sys.error(s"bounds unsupported for type $other")
      }
    }
    for (lb <- fi.lowerBounds.get(fid); ub <- fi.upperBounds.get(fid))
      yield (decode(lb), decode(ub))
  }

  /** A decoded hive dir value ([[DataFiles.StagedFile.partition]]),
    * typed for the manifest's partition record (null stores null).
    */
  private def typedPartitionValue(v: String, dt: DataType): Any = {
    if (v == null) return null
    if (v == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case LongType                           => java.lang.Long.valueOf(v)
      case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(v)
      case StringType                         => v
      case BooleanType                        => java.lang.Boolean.valueOf(v)
      case DoubleType                         => java.lang.Double.valueOf(v)
      case FloatType                          => java.lang.Float.valueOf(v)
      case other => sys.error(s"partition column type unsupported: $other")
    }
  }

  // ---------------------------------------------------- snapshot publish
  // Every commit publishes through the same three steps (spec: manifest
  // list -> snapshots[] + snapshot-log + refs -> immutable
  // v<N>.metadata.json -> version-hint.text): [[writeManifestList]],
  // [[appendSnapshot]] (or [[moveMain]] for a metadata-only repoint) and
  // [[publish]]. Table-level fields are carried by [[tableMeta]] or by
  // editing a deep copy of the previous version.

  /** Next snapshot id: one past the highest retained id (0 for a new
    * table). Sequential ids keep logs deterministic, like DeltaLite's
    * ts=0; a wall-clock id adds nothing here and breaks reproducible
    * tests.
    */
  private def nextSnapshotId(prev: Option[JsonNode]): Long =
    prev.toSeq.flatMap(snapshotsOf).map(_.get("snapshot-id").asLong())
      .maxOption.fold(0L)(_ + 1)

  /** Write snapshot `snapId`'s manifest list: the entries of
    * `parentList` carried with their content kind, sequence number AND
    * spec id (a carried DELETE manifest must not be re-listed as data,
    * and a carried manifest keeps the spec its files were written
    * under), except the manifests `dropped` names, then `added`.
    */
  private def writeManifestList(f: FileSystem, table: String, listRel: String,
                                snapId: Long, parentList: Option[String],
                                added: ListEntry, formatVersion: Int,
                                dropped: Set[String] = Set.empty): Unit = {
    val rows = (parentList.toSeq.flatMap(listEntries(f, table, _))
      .filterNot(e => dropped(e.path)) :+ added)
      .map(e => record(ManifestListSchemaV2)(
        "manifest_path" -> e.path, "manifest_length" -> e.length,
        "partition_spec_id" -> e.specId, "content" -> e.content,
        "sequence_number" -> e.seq, "added_snapshot_id" -> snapId))
    writeAvro(f, new Path(table, listRel), ManifestListSchemaV2, rows,
      Map("format-version" -> formatVersion.toString))
  }

  /** Raise `meta`'s format-version to at least `floor`, never lower than
    * `prev` declared: a table deleteRowsV3 moved to 3 (live DVs in Puffin
    * files) must not be re-stamped 2 by a later append — a conforming v2
    * reader would skip the carried DV entries and resurrect deleted rows.
    */
  private def ratchetFormat(meta: ObjectNode, prev: Option[JsonNode],
                            floor: Int): Unit =
    meta.put("format-version", math.max(floor, prev
      .flatMap(m => Option(m.get("format-version"))).map(_.asInt())
      .getOrElse(floor)))

  /** A new metadata version for a commit that rewrites the schema and
    * spec fields, with every table-level field carried from `prev` (None
    * when the commit creates the table): format-version (v2 at least —
    * sequence numbers order delete applicability), a `table-uuid` fixed
    * for the table's life (the spec's rule), properties and refs (durable
    * state no writer may reset), main's head and the snapshot history.
    */
  private def tableMeta(prev: Option[JsonNode], table: String,
                        metaV: Int): ObjectNode = {
    def carried(field: String): Option[JsonNode] =
      prev.flatMap(m => Option(m.get(field))).map(_.deepCopy[JsonNode]())
    val meta = mapper.createObjectNode()
    ratchetFormat(meta, prev, 2)
    meta.put("table-uuid", carried("table-uuid").map(_.asText())
      .getOrElse(f"graft-iceberg-$metaV%08d"))
    meta.put("location", table)
    meta.put("last-updated-ms", 0L)
    meta.set[JsonNode]("properties",
      carried("properties").getOrElse(mapper.createObjectNode()))
    carried("refs").foreach(meta.set[JsonNode]("refs", _))
    carried("current-snapshot-id")
      .foreach(meta.set[JsonNode]("current-snapshot-id", _))
    meta.set[JsonNode]("snapshots",
      carried("snapshots").getOrElse(mapper.createArrayNode()))
    meta.set[JsonNode]("snapshot-log",
      carried("snapshot-log").getOrElse(mapper.createArrayNode()))
    meta
  }

  private def setRef(refs: ObjectNode, name: String, snapshotId: Long,
                     refType: String): Unit = {
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId); r.put("type", refType)
  }

  /** Point main at `snapshotId`: current-snapshot-id, the `main` branch
    * ref when the table has one (it mirrors current-snapshot-id), and a
    * snapshot-log entry (the time-travel channel tracks every change of
    * the current snapshot).
    */
  private def moveMain(meta: ObjectNode, snapshotId: Long): Unit = {
    meta.put("current-snapshot-id", snapshotId)
    Option(meta.get("refs")).collect { case o: ObjectNode if o.has("main") => o }
      .foreach(setRef(_, "main", snapshotId, "branch"))
    val e = meta.withArray[ArrayNode]("snapshot-log").addObject()
    e.put("timestamp-ms", 0L); e.put("snapshot-id", snapshotId)
  }

  /** Append snapshot `snapId` (its sequence number is its id) to `meta`.
    * On main it becomes current through [[moveMain]]; on `branch` only
    * that ref advances — main and the snapshot-log stay where they were.
    */
  private def appendSnapshot(meta: ObjectNode, snapId: Long,
                             parent: Option[Long],
                             summary: Seq[(String, String)], listRel: String,
                             schemaId: Option[Int],
                             branch: Option[String] = None): Unit = {
    val s = meta.withArray[ArrayNode]("snapshots").addObject()
    s.put("snapshot-id", snapId)
    s.put("sequence-number", snapId)
    parent.foreach(s.put("parent-snapshot-id", _))
    s.put("timestamp-ms", 0L)
    val sum = s.putObject("summary")
    summary.foreach { case (k, v) => sum.put(k, v) }
    s.put("manifest-list", listRel)
    schemaId.foreach(s.put("schema-id", _))
    meta.put("last-sequence-number", snapId)
    branch match {
      case None    => moveMain(meta, snapId)
      case Some(b) => setRef(meta.get("refs").asInstanceOf[ObjectNode], b,
        snapId, "branch")
    }
  }

  /** The one writer of table metadata: `meta` lands as immutable
    * `v<metaV>.metadata.json`, claimed put-if-absent
    * ([[renameIfAbsent]] — the file name IS the version, so a writer
    * that claimed v<metaV> first makes this return false and leaves the
    * table untouched), then `version-hint.text` is repointed and the
    * table's metadata retention applied ([[maybeAutoCleanupMetadata]]).
    * `token` keeps racing writers' temp names apart.
    */
  private def publish(spark: SparkSession, table: String, meta: ObjectNode,
                      metaV: Int, token: String = "0"): Boolean = {
    val f = fs(spark, metaDir(table))
    val tmp = new Path(metaDir(table), s".v$metaV-$token.metadata.json.tmp")
    val out = f.create(tmp, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(meta))
    finally out.close()
    if (!renameIfAbsent(spark, f, tmp, metaFile(table, metaV))) return false
    val hint = f.create(hintFile(table), true)
    try hint.write(metaV.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    maybeAutoCleanupMetadata(spark, table, meta, metaV)
    true
  }

  /** Commit `df` as the next snapshot: land parquet parts under `data/`,
    * write one ADDED-entry manifest (+ DELETED entries when overwriting),
    * a manifest list, and a new immutable `v<N>.metadata.json`; publish
    * by rewriting `version-hint.text` last. Snapshot ids are sequential
    * (deterministic logs, like DeltaLite's ts=0 — wall-clock ids add
    * nothing here and would break reproducible tests). Returns the new
    * snapshot id.
    */
  def commit(spark: SparkSession, table: String, df: DataFrame,
             overwrite: Boolean = false, operation: String = "",
             partitionBy: Seq[String] = Nil,
             replacing: Option[Seq[String]] = None,
             partitionTransforms: Seq[String] = Nil): Long =
    commitAttempt(spark, table, df, overwrite, operation, partitionBy,
      replacing, nameToken = None, ifAbsent = false,
      partitionTransforms = partitionTransforms)
      .getOrElse(sys.error("unreachable: a lost non-contended claim raises"))

  /** `"days(ts)"` / `"bucket(8, id)"` / `"truncate(4, s)"` /
    * `"months(ts)"` / `"years(ts)"` / `"hours(ts)"` — the Iceberg DDL
    * transform syntax → (spec transform string, source column).
    */
  private[graft] def parseTransformDecl(s: String): (String, String) = {
    val TimeRe  = """(?i)(years?|months?|days?|hours?)\s*\(\s*([\w.]+)\s*\)""".r
    val ArgRe   = """(?i)(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([\w.]+)\s*\)""".r
    val IdentRe = """(?i)identity\s*\(\s*([\w.]+)\s*\)""".r
    s.trim match {
      case TimeRe(t, col) =>
        (t.toLowerCase.stripSuffix("s"), col)
      case ArgRe(t, n, col) =>
        (s"${t.toLowerCase}[$n]", col)
      case IdentRe(col) => ("identity", col)
      case other => sys.error(s"unparseable partition transform: '$other' " +
        "(expected e.g. days(ts), bucket(8, id), truncate(4, s))")
    }
  }

  /** Spec-field name for a transform, the Iceberg convention:
    * `ts_day`, `id_bucket`, `s_trunc`; identity keeps the column name.
    */
  private def transformFieldName(transform: String, source: String): String =
    transform match {
      case "identity" => source
      case t if t.startsWith("bucket[")   => s"${source}_bucket"
      case t if t.startsWith("truncate[") => s"${source}_trunc"
      case t => s"${source}_$t"
    }

  /** One resolved partition-spec column of a commit: manifest field
    * `name` of `resultType`, computed as `transform(source)`.
    */
  private final case class SpecCol(name: String, transform: String,
                                   source: String, resultType: DataType)

  private def commitAttempt(spark: SparkSession, table: String, df: DataFrame,
                            overwrite: Boolean, operation: String,
                            partitionBy: Seq[String],
                            replacing: Option[Seq[String]],
                            nameToken: Option[String],
                            ifAbsent: Boolean,
                            partitionTransforms: Seq[String] = Nil,
                            toBranch: Option[String] = None): Option[Long] = {
    val root = new Path(table)
    val f = fs(spark, root)
    val vs = versions(spark, table)
    val prevMeta = if (vs.isEmpty) None else Some(metadata(spark, table))
    val prevSnaps: Seq[JsonNode] = prevMeta.toSeq.flatMap(snapshotsOf)
    val snapId = nextSnapshotId(prevMeta)
    val metaV = if (vs.isEmpty) 1 else vs.last + 1
    // branch commits append on the BRANCH head (refs[name]), leaving
    // main (current-snapshot-id) untouched — the WAP shape
    require(toBranch.isEmpty || (!overwrite && replacing.isEmpty),
      s"$table: branch commits are append-only (no overwrite/replace)")
    val prevHead: Option[Long] = toBranch match {
      case Some(b) =>
        val r = prevMeta.flatMap(m => Option(m.get("refs")))
          .flatMap(o => Option(o.get(b))).getOrElse(
          sys.error(s"$table: no ref $b — createBranch first"))
        require(r.get("type").asText() == "branch",
          s"$table: ref $b is a tag — tags are immutable")
        Some(r.get("snapshot-id").asLong())
      case None =>
        prevMeta.map(_.get("current-snapshot-id").asLong()).filter(_ >= 0)
    }
    // contended read-modify-write liveness: the files this commit
    // replaces must still be live at the tip (a winner landing before
    // our base read invalidates the rewrite without a CAS collision)
    if (ifAbsent) replacing.foreach { r =>
      val live = snapshot(spark, table).files.toSet
      if (!r.forall(live.contains))
        throw new java.util.ConcurrentModificationException(
          s"$table: files this rewrite replaces are no longer live — " +
            "re-run the read-modify-write against the new tip")
    }
    require(partitionBy.isEmpty || partitionTransforms.isEmpty,
      s"$table: give partitionBy (identity) OR partitionTransforms, not both")
    // unified spec columns: identity partitionBy keeps its source column
    // in the DIRECTORY (hive layout, recovered at read); non-identity
    // transforms derive an EXTRA column for the directory and keep the
    // source column in the data files. An APPEND that declares nothing
    // INHERITS the table's current default spec (the real engine's
    // contract — the table's spec governs writes; without this an
    // undeclared append silently evolves a partitioned table to an
    // unpartitioned default and pruning dies); overwrites re-declare
    // the layout explicitly or flatten.
    val effectiveTransforms: Seq[String] =
      if (partitionTransforms.isEmpty && partitionBy.isEmpty &&
          !overwrite && replacing.isEmpty && prevMeta.nonEmpty)
        currentSpecDecls(spark, table)
      else partitionTransforms
    val specCols: Seq[SpecCol] =
      if (effectiveTransforms.nonEmpty) effectiveTransforms.map { decl =>
        val (tf, src) = parseTransformDecl(decl)
        val srcType = df.schema(src).dataType
        SpecCol(transformFieldName(tf, src), tf, src,
          IcebergTransforms.resultType(tf, srcType))
      }
      else partitionBy.map(c =>
        SpecCol(c, "identity", c, df.schema(c).dataType))
    val partCols: Seq[StructField] =
      specCols.map(sc => StructField(sc.name, sc.resultType, nullable = true))
    // append-time schema drift: additive evolution only (every existing
    // column kept, same type) — the new metadata's schema governs the
    // whole table, so old files read with nulls for added columns;
    // dropped/retyped columns on append are refused loudly. Overwrites
    // may replace the schema freely.
    prevMeta.filter(_ => !overwrite && replacing.isEmpty).foreach { m =>
      val prevSchema = icebergToSpark(currentSchemaNode(m, table))
      val missing = prevSchema.fields.filterNot(pf =>
        df.schema.fields.exists(nf =>
          nf.name == pf.name && nf.dataType == pf.dataType))
      require(missing.isEmpty,
        s"$table: append schema drops/retypes columns " +
          s"${missing.map(_.name).mkString(", ")} — only additive " +
          "evolution is allowed on append (overwrite to replace the schema)")
      // field ids are assigned positionally (sparkToIceberg, depth-first)
      // and old manifests keep bounds under the OLD ids — a reordered
      // append would silently re-key every surviving file's bounds, so
      // existing columns must stay a prefix in their original order
      val prefix = df.schema.fields.take(prevSchema.fields.length)
        .map(f => (f.name, f.dataType)).toSeq
      require(prefix == prevSchema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"$table: append must keep existing columns in their original " +
          "order (field ids are positional; new columns go at the end)")
    }

    // effective schema node for this commit. Field-id STABILITY is the
    // load-bearing rule: same-named fields REUSE their previous node
    // verbatim (ids, nested ids), and genuinely NEW fields get ids
    // allocated strictly PAST last-column-id — never a positional
    // re-assignment, which would recycle a dropped column's id and make
    // the rename-era alignment resurrect its data under the new name
    // (and silently re-key every surviving file's manifest bounds). A
    // node identical to one in the history reuses its schema-id;
    // otherwise it joins the history under a fresh id, so each snapshot
    // still resolves under its own era (snapshot()/readWithDeletes).
    val prevSchemasArr: Seq[JsonNode] = prevMeta.map { m =>
      Option(m.get("schemas")).map(_.elements().asScala.toSeq)
        .getOrElse(Option(m.get("schema")).toSeq)
    }.getOrElse(Seq.empty).map { s =>
      val o = s.deepCopy[ObjectNode]()
      if (!o.has("schema-id")) o.put("schema-id", 0) // legacy single-schema
      o: JsonNode
    }
    val prevLastColId = prevMeta.flatMap(pm =>
      Option(pm.get("last-column-id")).map(_.asInt())).getOrElse(0)
    val prevCurrentFields: Map[String, JsonNode] = prevMeta.map(m =>
      currentSchemaNode(m, table).get("fields").elements().asScala
        .map(fn => fn.get("name").asText() -> fn).toMap)
      .getOrElse(Map.empty)
    val (candidate: ObjectNode, candidateLastColId: Int) =
      if (prevCurrentFields.isEmpty || (overwrite && replacing.isEmpty))
        sparkToIceberg(df.schema) // creation / full schema replacement
      else {
        val root = mapper.createObjectNode()
        root.put("type", "struct")
        root.put("schema-id", 0) // provisional; final id assigned below
        val fieldsArr = root.putArray("fields")
        var nextId = prevLastColId
        df.schema.fields.foreach { fl =>
          prevCurrentFields.get(fl.name) match {
            case Some(pf) =>
              // name-matched reuse must also TYPE-match (id-insensitive):
              // the replacing path skips the additive-evolution guard,
              // and silently keeping the old type while writing files in
              // the frame's type would corrupt every later read
              val (sub, _) = sparkToIceberg(StructType(Seq(fl)))
              val freshT = sub.get("fields").get(0).get("type")
              require(stripTypeIds(pf.get("type")) == stripTypeIds(freshT),
                s"$table: column ${fl.name} type drift " +
                  s"(table ${pf.get("type")} vs frame $freshT) — a " +
                  "merge/replace rewrite may not retype columns")
              fieldsArr.add(pf.deepCopy[JsonNode]())
            case None =>
              val (sub, innerMax) =
                sparkToIceberg(StructType(Seq(fl)), startId = nextId)
              fieldsArr.add(sub.get("fields").get(0).deepCopy[JsonNode]())
              nextId = innerMax
          }
        }
        (root, nextId)
      }
    // a NAME that ever existed under a DIFFERENT field id (dropped or
    // renamed away) must not come back: this reader resolves parquet
    // columns by name, so a re-added same-named column would read the
    // old files' stale physical values as the new column's data. A FULL
    // overwrite is exempt — it removes every prior file, so there is
    // nothing stale left to read.
    if (!(overwrite && replacing.isEmpty)) {
      val historyIdsByName: Map[String, Set[Int]] = prevSchemasArr
        .flatMap(_.get("fields").elements().asScala.map(fn =>
          fn.get("name").asText() -> fn.get("id").asInt()))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      candidate.get("fields").elements().asScala.foreach { fn =>
        val nm = fn.get("name").asText()
        val id = fn.get("id").asInt()
        require(!historyIdsByName.get(nm).exists(ids => !ids.contains(id)),
          s"$table: column $nm previously existed under a different field " +
            "id (dropped or renamed away) — re-adding the name would read " +
            "old files' stale values; use a new column name")
      }
    }
    def schemaSig(n: JsonNode): Seq[JsonNode] =
      n.get("fields").elements().asScala.toSeq
    val matchedSchema = prevSchemasArr.find(s =>
      schemaSig(s) == schemaSig(candidate))
    val (schemaNode: ObjectNode, schemaId: Int,
         allSchemas: Seq[JsonNode], lastColId: Int) = matchedSchema match {
      case Some(m) =>
        (m.asInstanceOf[ObjectNode], m.get("schema-id").asInt(),
          prevSchemasArr, math.max(prevLastColId, candidateLastColId))
      case None =>
        val sid = prevSchemasArr.flatMap(s =>
          Option(s.get("schema-id")).map(_.asInt()))
          .maxOption.map(_ + 1).getOrElse(0)
        candidate.put("schema-id", sid)
        (candidate, sid, prevSchemasArr :+ (candidate: JsonNode),
          math.max(prevLastColId, candidateLastColId))
    }

    // 1. data files: stage (hive layout when partitioned — identity
    //    transform, the dir name carrying the value), then publish under
    //    data/ with snapshot-stamped names (metadata, not the listing,
    //    defines the table)
    // non-identity transforms: derive the partition-value columns (they
    // are consumed by partitionBy into the dir names; the SOURCE columns
    // stay in the data files, so reads need no value reconstruction)
    val stageDf = specCols.filter(_.transform != "identity")
      .foldLeft(df) { (d, sc) =>
        d.withColumn(sc.name, IcebergTransforms.transformColumn(
          sc.transform, d(sc.source), df.schema(sc.source).dataType))
      }
    f.mkdirs(dataDir(table))
    // top-level field ids for the bound maps, from the EFFECTIVE schema
    // node (reused ids survive rename/drop; a positional re-derivation
    // here would mis-key bounds after a drop)
    val topFields: Map[String, (Int, DataType)] =
      schemaNode.get("fields").elements().asScala
        .filter(_.get("type").isTextual)
        .map(fn => fn.get("name").asText() ->
          (fn.get("id").asInt(), df.schema(fn.get("name").asText()).dataType))
        .toMap
    // contended writers stamp a writer-unique token into part names so
    // two racers at the same prospective snapshot id can never clobber
    // each other's data files
    val partTag = nameToken.getOrElse(f"$snapId%05d")
    val stageId = s"s${nameToken.getOrElse(snapId.toString)}"
    val named = DataFiles.stage(spark, root, stageDf, stageId,
      specCols.map(_.name)) { (i, relDir) =>
      if (relDir.isEmpty) f"data/part-$partTag-$i%05d.parquet"
      else f"data/$relDir/part-$partTag-$i%05d.parquet"
    }.map { sf =>
      // spec-required record_count + the spec's lower/upper bound maps
      // (field-ids 125/128), from the parquet footer (driver-side,
      // metadata-only — the stats real planners prune with)
      val st = footerOf(table, new Path(root, sf.rel), sf.stats)
      val (lower, upper) = manifestBounds(st, topFields)
      (sf.rel, sf.size, st.numRecords, sf.partition, lower, upper)
    }

    // 2. manifest: ADDED entries for the new files (typed partition
    //    values parsed back out of the hive dirs); on overwrite, DELETED
    //    entries recording the prior snapshot's files dropping out
    val removed: Seq[String] = replacing.getOrElse(
      if (overwrite && prevSnaps.nonEmpty) snapshot(spark, table).files else Nil)
    val entrySchema = manifestEntrySchema(partCols)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    def partRecord(partition: Map[String, String]): GenericRecord = {
      val r = new GenericData.Record(partSchema)
      partCols.foreach(c => partition.get(c.name).foreach(v =>
        r.put(c.name, typedPartitionValue(v, c.dataType))))
      r
    }
    def entry(status: Int, path: String, size: Long, rows: Long,
              partition: Map[String, String], lower: Map[Int, Array[Byte]],
              upper: Map[Int, Array[Byte]]): GenericRecord =
      record(entrySchema)(
        "status" -> status, "snapshot_id" -> snapId,
        "sequence_number" -> snapId,
        "data_file" -> record(dataFileSchema)(
          "content" -> 0,
          "file_path" -> path, "file_format" -> "PARQUET",
          "partition" -> partRecord(partition), "record_count" -> rows,
          "file_size_in_bytes" -> size, "block_size_in_bytes" -> (128L << 20),
          "lower_bounds" -> boundsArray(dataFileSchema, "lower_bounds", lower),
          "upper_bounds" -> boundsArray(dataFileSchema, "upper_bounds", upper)))
    val entries =
      named.map { case (p, size, rows, partition, lower, upper) =>
        entry(1, p, size, rows, partition, lower, upper) } ++
        removed.map(p => entry(2, p, 0L, 0L, Map.empty, Map.empty, Map.empty))
    f.mkdirs(metaDir(table))
    val manifestRel = s"metadata/m-$partTag-0.avro"
    val manifestLen = writeAvro(f, new Path(root, manifestRel),
      entrySchema, entries,
      Map("format-version" -> "2", "content" -> "data"))

    // 3. new metadata version (immutable): table-level fields carried,
    //    this commit's schema and partition spec declared
    val meta = tableMeta(prevMeta, table, metaV)
    meta.put("last-column-id", lastColId)
    meta.set[ObjectNode]("schema", schemaNode.deepCopy())
    val schemas = meta.putArray("schemas")
    allSchemas.foreach(s => schemas.add(s.deepCopy[JsonNode]()))
    meta.put("current-schema-id", schemaId)
    val (_, defaultSpecId) = declareSpec(meta, prevMeta, schemaNode, table,
      specCols.map(sc => (sc.name, sc.transform, sc.source)))

    // 4. manifest list: append carries the head's manifests; overwrite
    //    starts fresh (the DELETED entries above record the transition)
    val listRel = s"metadata/snap-$partTag.avro"
    val parentList =
      if (overwrite) None
      else prevHead.flatMap(h => prevSnaps.find(_.get("snapshot-id").asLong() == h))
        .map(_.get("manifest-list").asText())
    writeManifestList(f, table, listRel, snapId, parentList,
      ListEntry(manifestRel, manifestLen, 0, snapId, defaultSpecId), 2)

    // 5. the snapshot, then the put-if-absent publish
    val op = if (operation.nonEmpty) operation
      else if (overwrite) "overwrite" else "append"
    appendSnapshot(meta, snapId, prevHead, Seq("operation" -> op,
      "added-data-files" -> named.size.toString,
      "removed-data-files" -> removed.size.toString),
      listRel, Some(schemaId), toBranch)
    val claimed = publish(spark, table, meta, metaV, nameToken.getOrElse("0"))
    require(claimed || ifAbsent, s"metadata rename failed: v$metaV")
    Option.when(claimed)(snapId)
  }

  /** The spec's automatic metadata retention
    * (`write.metadata.delete-after-commit.enabled` +
    * `write.metadata.previous-versions-max`, default 100): when the
    * table opts in, each commit prunes metadata JSONs beyond the window
    * — without it a streaming writer leaves one immortal metadata file
    * per batch. Time travel rides the CURRENT metadata's snapshots
    * array, so nothing user-visible is lost ([[cleanupMetadata]]'s own
    * contract). Failure must not fail the commit: it is logged, and the
    * next commit retries the prune.
    */
  private def maybeAutoCleanupMetadata(spark: SparkSession, table: String,
                                       meta: ObjectNode, metaV: Int): Unit = {
    val props = Option(meta.get("properties"))
      .collect { case o: ObjectNode => o }
    val enabled = props
      .flatMap(p => Option(p.get("write.metadata.delete-after-commit.enabled")))
      .exists(_.asText().equalsIgnoreCase("true"))
    if (!enabled) return
    val keepPrev = props
      .flatMap(p => Option(p.get("write.metadata.previous-versions-max")))
      .flatMap(n => scala.util.Try(n.asText().trim.toInt).toOption)
      .getOrElse(100)
    try cleanupMetadata(spark, table,
      retainVersions = math.max(keepPrev, 0) + 1)
    catch { case scala.util.control.NonFatal(e) =>
      log.warn(s"$table: metadata auto-cleanup after v$metaV failed: $e")
    }
  }

  /** Atomic put-if-absent claim of `dst` — shared primitive with
    * DeltaLite ([[DeltaLite.atomicClaim]]: hard link on `file:` stores,
    * Rename.NONE elsewhere). False when the destination already exists.
    */
  private def renameIfAbsent(spark: SparkSession, f: FileSystem,
                             src: Path, dst: Path): Boolean = {
    if (f.exists(dst)) { f.delete(src, false); return false }
    DeltaLite.atomicClaim(spark, f, src, dst)
  }

  /** OPTIMISTIC-CONCURRENCY commit for the file-system-tables catalog —
    * the multi-writer loop the single-writer contract (object scaladoc)
    * deferred: every attempt stamps a writer-unique token into data,
    * manifest, and list names (racers can never clobber each other's
    * files), and the immutable `v<N>.metadata.json` claim is the CAS —
    * [[renameIfAbsent]]. On losing:
    *  - blind APPEND / OVERWRITE: rebase — metadata is rebuilt against
    *    the new tip and re-published (appends keep the winner's
    *    manifests; overwrite tombstones the winner's files explicitly).
    *    Data written by the lost attempt is re-staged (Iceberg commits
    *    derive manifests during staging; conflicts are rare, and the
    *    orphaned parts of a lost attempt are unreferenced debris no
    *    snapshot names).
    *  - READ-MODIFY-WRITE (`replacing` defined): the rewrite was
    *    computed against a stale tip — ConcurrentModificationException;
    *    the caller re-runs the merge (the same file-level OCC contract
    *    as DeltaLite.commitContended).
    */
  def commitContended(spark: SparkSession, table: String, df: DataFrame,
                      overwrite: Boolean = false, operation: String = "",
                      partitionBy: Seq[String] = Nil,
                      replacing: Option[Seq[String]] = None,
                      maxRetries: Int = 5): Long = {
    val baseV: Option[Int] = versions(spark, table).lastOption
    var attempt = 0
    while (attempt <= maxRetries) {
      val token = java.util.UUID.randomUUID().toString.take(8)
      commitAttempt(spark, table, df, overwrite, operation, partitionBy,
        replacing, nameToken = Some(token), ifAbsent = true) match {
        case Some(id) => return id
        case None =>
          if (replacing.isDefined)
            throw new java.util.ConcurrentModificationException(
              s"$table: a concurrent commit won the race — re-run the " +
                "read-modify-write against the new tip")
          attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$table: lost the publish race $maxRetries times (base " +
        s"version $baseV) — giving up")
  }

  /** What [[selectiveMerge]] did — `filesSkipped` is the table volume a
    * full-rewrite MERGE would have paid for.
    */
  final case class MergeStats(snapshotId: Long, filesRewritten: Int,
                              filesSkipped: Int)

  /** Partition-pruned copy-on-write MERGE — data skipping by Iceberg's
    * native mechanism (manifest partition values), the complement of
    * DeltaLite.selectiveMerge's add-stats pruning: for a table
    * identity-partitioned on `partitionCol`, only data files whose
    * manifest partition value occurs in the update batch are read,
    * merged through the SAME LakehouseOps.mergeUpsert kernel, and
    * rewritten (tombstoned in the new manifest; untouched files' old
    * manifests carry forward). Cost ∝ touched partitions + the batch,
    * not table size. The pruning is metadata-only — planning never
    * touches data or directory listings.
    *
    * Contract: `partitionCol` must be stable per merge key (the standard
    * partitioned-MERGE requirement — a key that migrates partitions
    * would dodge its old row). Unpartitioned files in the snapshot are
    * rewritten conservatively. The update batch's distinct partition
    * values / first-key values drive the prune; a small batch is read
    * onto the driver once and rewritten in one job, a large one collects
    * its keys BOUNDED and past `maxPruneKeys` falls back to an unpruned
    * full-file-set merge — the same [[DataFiles.keySource]] rules as
    * DeltaLite.selectiveMerge.
    */
  def selectiveMerge(spark: SparkSession, table: String, updates: DataFrame,
                     keys: Seq[String], partitionCol: String = "",
                     skewSafe: Boolean = false,
                     maxPruneKeys: Int = DataFiles.DefaultMaxPruneKeys,
                     clauses: Seq[graft.operators.MergeClause] = Nil,
                     schemaEvolution: Boolean = false)
      : MergeStats = {
    val meta0 = metadata(spark, table)
    val spec = partitionSpecFields(meta0)
    val specSourceName: Map[Int, String] =
      currentSchemaNode(meta0, table).get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    require(spec.forall(_.transform != "void"),
      s"$table: selectiveMerge cannot rewrite a void-partitioned spec")
    val identityOnly = spec.forall(_.transform == "identity")
    val snap = snapshot(spark, table)
    // a source of at most min(maxPruneKeys, LocalSourceRows) rows is read
    // once, onto the driver: pruning, the kept-target predicate and the
    // winners all come from that read
    val src = DataFiles.keySource(spark, updates, keys, snap.schema,
      maxPruneKeys, "iceberg.merge.source")
    val noPrune = (snap.detail, Seq.empty[FileInfo])
    val pruneCol = if (partitionCol.nonEmpty) partitionCol else keys.head
    val (touched, skipped) =
      // whenNotMatchedBySource clauses involve EVERY target row by
      // definition — pruning untouched partitions/files would hide rows
      // from the clause
      if (graft.operators.MergeClause.touchesBySource(clauses)) noPrune
      else DataFiles.labelled(spark, "iceberg.merge.keys")(
        src.pruneKeys(pruneCol, maxPruneKeys)) match {
        case None => noPrune
        case Some(rows) if partitionCol.nonEmpty =>
          // partitioned table: prune whole partitions on the manifests'
          // typed partition values — TRANSFORM-AWARE: each spec field
          // sourced from partitionCol admits exactly the partition values
          // its transform maps the batch keys to (bucket hashes, day
          // numbers, truncated prefixes, identity raw values)
          val fieldsOnCol = spec.filter(tf =>
            specSourceName.get(tf.sourceId).contains(partitionCol))
          val admitted: Option[Seq[(String, Set[String])]] =
            if (fieldsOnCol.isEmpty && spec.nonEmpty &&
                !spec.exists(_.name == partitionCol)) None
            else if (spec.isEmpty || (identityOnly && fieldsOnCol.isEmpty))
              // legacy identity layout keyed by field NAME
              Some(Seq(partitionCol -> DataFiles.keyStrings(rows)))
            else {
              val tpe = topField(meta0, table, partitionCol)._1
              val T = IcebergTransforms
              Some(fieldsOnCol.flatMap { tf =>
                val vs: Option[Set[String]] = tf.transform match {
                  case "identity" => Some(DataFiles.keyStrings(rows))
                  case t if T.isTimeTransform(t) => Some(rows.map(r =>
                    T.timeValue(t, tpe, r.get(0)).toString).toSet)
                  case t if T.bucketN(t).isDefined => Some(rows.map(r =>
                    T.bucketOf(tpe, r.get(0), T.bucketN(t).get).toString).toSet)
                  case t if T.truncW(t).isDefined => Some(rows.map(r =>
                    T.truncateOf(tpe, r.get(0), T.truncW(t).get).toString).toSet)
                  case _ => None // unknown transform: no pruning
                }
                vs.map(tf.name -> _)
              })
            }
          admitted.fold(noPrune)(DataFiles.partitionPrune(snap.detail, _)(
            (fi, field) => fi.partition.get(field).flatMap(Option(_))))
        case Some(rows) =>
          // unpartitioned table: prune on the manifests' column bound maps
          // for the first merge key — the DeltaLite add-stats shape, so a
          // range-clustered (Z-ORDERed) Iceberg table merges ∝ touched
          // files too. Bound-less files rewrite conservatively.
          boundsPrune(meta0, table, snap, pruneCol, rows)
      }
    val base =
      if (touched.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      else readWithDeletes(spark, table, snap, touched)
    // schema evolution's source-only columns re-key the metadata schema
    // through commit's append-drift channel
    val merged = graft.operators.LakehouseOps.merge(base, src.df, keys,
      clauses, skewSafe, schemaEvolution,
      src.unmatched(keys.map(k => base(s"`$k`"))))
    // rewrite under the table's OWN layout: the FULL spec (identity
    // fields included — collapsing to just partitionCol would drop the
    // other partition columns from the rewritten metadata/dirs) is
    // reconstructed as decl strings so the rewritten files land in the
    // same directories and the spec survives the commit. Spec-less
    // tables keep the legacy partitionBy behavior.
    val specDecls: Seq[String] =
      spec.map(tf => transformDecl(tf,
        specSourceName.getOrElse(tf.sourceId,
          sys.error(s"$table: spec field ${tf.name} has no source column"))))
    val sid = DataFiles.labelled(spark, "iceberg.merge.write")(
      commit(spark, table, merged, operation = "merge",
        partitionBy =
          if (spec.isEmpty && partitionCol.nonEmpty) Seq(partitionCol) else Nil,
        partitionTransforms = specDecls,
        replacing = Some(touched.map(_.path))))
    MergeStats(sid, touched.size, skipped.size)
  }

  /** The (touched, skipped) split of `snap`'s data files for the distinct
    * `keyCol` values `rows`, on the manifests' column bounds: a file whose
    * [lower, upper] admits no key is skipped; an unbounded type or a
    * bound-less file is touched.
    */
  private def boundsPrune(meta: JsonNode, table: String, snap: Snapshot,
                          keyCol: String, rows: Array[org.apache.spark.sql.Row])
      : (Seq[FileInfo], Seq[FileInfo]) = {
    val (tpe, fid) = topField(meta, table, keyCol)
    if (!BoundedTypes(tpe)) (snap.detail, Nil)
    else DataFiles.keyPrune(snap.detail, primitive(tpe), rows)(
      bounds(primitive(tpe), fid))
  }

  /** Spec transform string + source column → the DDL decl
    * [[parseTransformDecl]] accepts (the rewrite round trip).
    */
  private def transformDecl(tf: IcebergTransforms.PartField,
                            source: String): String =
    tf.transform match {
      case "identity" => s"identity($source)"
      case t => IcebergTransforms.bucketN(t)
        .map(n => s"bucket($n, $source)")
        .orElse(IcebergTransforms.truncW(t).map(w => s"truncate($w, $source)"))
        .getOrElse(s"${t}s($source)")
    }

  /** METADATA-ONLY table creation over EXISTING parquet files — the
    * kernel behind zero-copy format conversion ([[FormatConvert]], the
    * `CONVERT TO` / UniForm verb): commit 0 of a NEW Iceberg table whose
    * manifests reference `files` in place (absolute paths,
    * protocol-legal — the same referencing shape as
    * DeltaLite.shallowClone). No data moves; per-file record counts and
    * the spec's `lower_bounds`/`upper_bounds` come from the parquet
    * FOOTERS (driver-side metadata, ~ms/file), so stats-pruned reads and
    * merges work on the converted table from snapshot 0. Unpartitioned
    * identity spec; the caller owns schema fidelity (the files must
    * actually carry these columns).
    */
  def addFilesCommit(spark: SparkSession, table: String,
                     schema: StructType, files: Seq[String],
                     sync: Boolean = false,
                     knownCounts: Map[String, Long] = Map.empty): Long = {
    val existing = versions(spark, table)
    require(existing.isEmpty || sync, s"$table: already a table")
    val root = new Path(table)
    val f = fs(spark, root)
    // sync mode (the UniForm face): the NEXT metadata version whose
    // current snapshot lists exactly `files` — prior snapshots stay in
    // the history (expireSnapshots can reap their manifests later)
    val prevMeta = if (existing.isEmpty) None else Some(metadata(spark, table))
    val prevSnapId = prevMeta.map(_.get("current-snapshot-id").asLong())
      .filter(_ >= 0)
    val snapId = nextSnapshotId(prevMeta)
    val metaV = existing.lastOption.map(_ + 1).getOrElse(1)
    val (schemaNode, lastColId) = sparkToIceberg(schema)
    val topFields: Map[String, (Int, DataType)] =
      schemaNode.get("fields").elements().asScala.filter(_.get("type").isTextual)
        .map(fn => fn.get("name").asText() ->
          (fn.get("id").asInt(), schema(fn.get("name").asText()).dataType))
        .toMap
    val entrySchema = manifestEntrySchema(Nil)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    val entries = files.map { p =>
      val qualified = f.makeQualified(new Path(p))
      val size = f.getFileStatus(qualified).getLen
      // record counts the CALLER already knows (the universal-format
      // sync carries Delta's add-stats) skip the parquet footer open —
      // a per-commit sync must not pay O(live files) footer decodes;
      // bounds are omitted there (face scans plan conservatively)
      val (rows, bounds) = knownCounts.get(p) match {
        case Some(n) =>
          (n, (Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]]))
        case None =>
          val st = footerOf(table, qualified, DataFiles.footerStats(
            spark.sparkContext.hadoopConfiguration, qualified))
          (st.numRecords, manifestBounds(st, topFields))
      }
      record(entrySchema)(
        "status" -> 1, "snapshot_id" -> snapId,
        "sequence_number" -> snapId,
        "data_file" -> record(dataFileSchema)(
          "content" -> 0,
          "file_path" -> qualified.toString, "file_format" -> "PARQUET",
          "partition" -> new GenericData.Record(partSchema),
          "record_count" -> rows, "file_size_in_bytes" -> size,
          "block_size_in_bytes" -> (128L << 20),
          "lower_bounds" -> boundsArray(dataFileSchema, "lower_bounds", bounds._1),
          "upper_bounds" -> boundsArray(dataFileSchema, "upper_bounds", bounds._2)))
    }
    f.mkdirs(metaDir(table))
    val manifestRel = f"metadata/m-$snapId%05d-0.avro"
    val manifestLen = writeAvro(f, new Path(root, manifestRel),
      entrySchema, entries, Map("format-version" -> "2", "content" -> "data"))
    val listRel = f"metadata/snap-$snapId%05d.avro"
    writeManifestList(f, table, listRel, snapId, None,
      ListEntry(manifestRel, manifestLen, 0, snapId, 0), 2)
    // a synced face keeps its format-version ratchet, table-uuid,
    // properties and refs across syncs
    val meta = tableMeta(prevMeta, table, metaV)
    meta.put("last-column-id", lastColId)
    meta.set[ObjectNode]("schema", schemaNode)
    meta.putArray("schemas").add(schemaNode.deepCopy())
    meta.put("current-schema-id", 0)
    meta.putArray("partition-spec")
    val spec0 = meta.putArray("partition-specs").addObject()
    spec0.put("spec-id", 0); spec0.putArray("fields")
    meta.put("default-spec-id", 0)
    meta.put("last-partition-id", 999)
    // a re-sync REPLACES the visible file set wholesale — recorded as
    // overwrite so incremental readers refuse the range instead of
    // double-counting the re-listed files
    appendSnapshot(meta, snapId, prevSnapId, Seq(
      "operation" -> (if (prevSnapId.nonEmpty) "overwrite" else "append"),
      "added-data-files" -> files.size.toString), listRel, Some(0))
    require(publish(spark, table, meta, metaV),
      s"metadata rename failed: v$metaV")
    snapId
  }

  /** What [[deleteRows]] did: the new snapshot id, delete files written,
    * and (for positional) victim rows recorded / (for equality) data
    * rows currently matched.
    */
  final case class DeleteStats(snapshotId: Long, deleteFiles: Int,
                               rowsDeleted: Long)

  /** v2 MERGE-ON-READ row deletion — the write half of the delete-file
    * support (spec "Row-level deletes"), mirroring
    * DeltaLite.deleteVectors on the other format: no data file is
    * rewritten; the commit adds ONE delete file + a DELETE manifest +
    * a new manifest list and metadata version.
    *
    *  - `equality = false` (default): POSITION deletes. Matching rows
    *    are located and written in ONE distributed execution (existing
    *    deletes applied first — already-dead rows are neither re-marked
    *    nor re-counted): their (file_path, pos) pairs, sorted (the
    *    spec's ordering for efficient merge-on-read) and limited to
    *    `maxDeleteRows` + 1, land in the staged delete file, whose
    *    footer then gives the victim count and the unmapped-path check.
    *    Past `maxDeleteRows` the staged file is removed and the delete
    *    refused — bulk erasure should rewrite files via
    *    selectiveMerge/compaction.
    *  - `equality = true`: EQUALITY deletes. The distinct key rows
    *    themselves are the delete file (columns = `keyCols`, declared
    *    via `equality_ids` field ids); no data scan is needed to WRITE
    *    the delete — the spec's O(batch) streaming-CDC shape — and the
    *    strict `dataSeq < deleteSeq` rule at read time lets later
    *    re-inserts of the same key survive.
    *
    * Readers at this snapshot see the rows gone ([[readWithDeletes]]);
    * time travel to earlier snapshots still sees them; compaction
    * (optimizeCompact/optimizeZorder — they read THROUGH the masks and
    * rewrite) folds deletes into data files and drops the delete
    * manifests from the new snapshot.
    */
  def deleteRows(spark: SparkSession, table: String, keys: DataFrame,
                 keyCols: Seq[String], equality: Boolean = false,
                 maxDeleteRows: Int = 16 << 20): DeleteStats = {
    import org.apache.spark.sql.functions.col
    val root = new Path(table)
    val f = fs(spark, root)
    val meta = metadata(spark, table)
    require(snapshotsOf(meta).nonEmpty, s"$table: no snapshots")
    val snapId = nextSnapshotId(Some(meta))
    val metaV = versions(spark, table).last + 1
    val snap = snapshot(spark, table)
    if (snap.detail.isEmpty) return DeleteStats(snap.snapshotId, 0, 0L)
    // v2-style delete FILES are spec-illegal once the table is
    // format-version 3 / carries deletion vectors (v3 requires position
    // deletes as DVs) — refuse loudly instead of writing a mixed
    // snapshot a conforming reader would misread
    val declaredFv = Option(meta.get("format-version")).map(_.asInt())
      .getOrElse(2)
    require(declaredFv < 3 &&
        !snap.deletes.exists(_.contentOffset.isDefined),
      s"$table: v2 delete files are illegal on a format-version-3 table " +
        "carrying deletion vectors — use deleteRowsV3")

    val (src, scanned, matching) =
      deleteScope(spark, table, meta, snap, keys, keyCols)
    // the delete file, staged; for position deletes the victim count and
    // the unmapped check read its footer, so the victim plan runs ONCE
    val staging = new Path(root, s".staging-del-s$snapId")
    def stage(rows: DataFrame): Option[Path] = {
      rows.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      f.listStatus(staging).map(_.getPath).find(p =>
        p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    }
    // nRows: the data rows erased; delFileRows: the delete FILE's own row
    // count (what the manifest's record_count must carry — for equality
    // deletes that is the distinct-key count, NOT the number of
    // currently-matched data rows)
    val (part, nRows, eqIds, delFileRows): (Path, Long, Seq[Int], Long) =
      if (!equality) {
        // victims stay DISTRIBUTED: the matched rows' scan paths map to
        // manifest paths through a broadcast (metadata-sized) map and
        // land sorted in the single delete-file partition on an
        // executor. The limit bounds the write — a no-op below the cap —
        // so an over-limit bulk delete is refused having written at most
        // maxDeleteRows + 1 rows, and the staged file is removed.
        if (scanned.isEmpty) return DeleteStats(snap.snapshotId, 0, 0L)
        val scan = readWithDeletes(spark, table, snap, scanned,
          keepMeta = true)
        val qualified = tableRoot(spark, table)
        // one manifest path per file identity: identical (key, path)
        // pairs from duplicate manifest entries collapse silently; two
        // DIFFERENT manifest paths with one identity is a corrupt-metadata
        // state and fails loudly (matching the unmapped-victim check
        // below).
        val n2p = scanned.map(fi =>
          fileKey(qualified, fi.path) -> fi.path).distinct
        require(n2p.map(_._1).distinct.size == n2p.size,
          s"$table: multiple manifest data-file paths canonicalize to one " +
            "scan path — refusing to write a delete file against " +
            "ambiguous file identities")
        // victims map scan paths to manifest paths through a broadcast
        // VARIABLE (metadata-sized, shipped without a Spark job): an
        // identity mismatch reads NULL and fails loudly below, where a
        // join would silently DROP the victim and leave the row alive.
        // The position-delete spec requires (file_path, pos) order.
        val paths = spark.sparkContext.broadcast(n2p.toMap)
        val manifestPath = org.apache.spark.sql.functions.udf(
          (k: String) => paths.value.get(k).orNull)
        val victims = matching(scan)
          .select(manifestPath(scanKeyCol(col("__if"))).as("file_path"),
            col("__ip").as("pos"))
          .limit(maxDeleteRows + 1)
          .sortWithinPartitions("file_path", "pos")
        val staged = DataFiles.labelled(spark, "iceberg.delete.victims")(
          stage(victims))
        val (nVictims, nUnmapped) = staged.map(footerCounts(f.getConf, _))
          .map { case (n, nulls) => (n, nulls.getOrElse("file_path",
            if (n == 0) 0L
            else sys.error(s"$staging: no null count for file_path"))) }
          .getOrElse((0L, 0L))
        if (nUnmapped > 0 || nVictims > maxDeleteRows || nVictims == 0)
          f.delete(staging, true)
        require(nUnmapped == 0L,
          s"$table: $nUnmapped victim rows matched no manifest data-file " +
            "path after canonicalization — refusing to write a delete " +
            "file that would silently miss them")
        require(nVictims <= maxDeleteRows,
          s"$table: delete batch exceeds $maxDeleteRows rows — rewrite " +
            "files (selectiveMerge / compaction) for bulk erasure")
        if (nVictims == 0) return DeleteStats(snap.snapshotId, 0, 0L)
        (staged.get, nVictims, Seq.empty, nVictims)
      } else {
        val ids = keyCols.map(k => topField(meta, table, k)._2)
        val distinctKeys = src.df
          .select(keyCols.map(k => src.df(s"`$k`")).toIndexedSeq: _*).distinct()
        val matched = DataFiles.labelled(spark, "iceberg.delete.victims")(
          matching(readWithDeletes(spark, table, snap, scanned)).count())
        val staged = stage(distinctKeys).getOrElse(
          sys.error("delete-file write produced no part file"))
        (staged, matched, ids, footerCounts(f.getConf, staged)._1)
      }

    // 1. the delete file (parquet, spec-allowed), renamed into place
    val delRel = f"data/delete-$snapId%05d-0.parquet"
    f.mkdirs(dataDir(table))
    require(f.rename(part, new Path(root, delRel)), "delete-file rename failed")
    f.delete(staging, true)
    val delLen = f.getFileStatus(new Path(root, delRel)).getLen

    // 2. the DELETE manifest (content routed at the list level AND the
    //    entry level, sequence number explicit)
    val dfSchema = DeleteManifestEntrySchema.getField("data_file").schema()
    val eqArr: AnyRef =
      if (eqIds.isEmpty) null
      else {
        val arrSchema = dfSchema.getField("equality_ids").schema().getTypes.get(1)
        val a = new GenericData.Array[Integer](eqIds.size, arrSchema)
        eqIds.foreach(i => a.add(Int.box(i)))
        a
      }
    val entry = record(DeleteManifestEntrySchema)(
      "status" -> 1, "snapshot_id" -> snapId, "sequence_number" -> snapId,
      "data_file" -> record(dfSchema)(
        "content" -> (if (equality) 2 else 1),
        "file_path" -> delRel, "file_format" -> "PARQUET",
        "partition" -> record(dfSchema.getField("partition").schema())(),
        "record_count" -> delFileRows,
        "file_size_in_bytes" -> delLen,
        "equality_ids" -> eqArr))
    val manifestRel = f"metadata/m-$snapId%05d-del.avro"
    val manifestLen = writeAvro(f, new Path(root, manifestRel),
      DeleteManifestEntrySchema, Seq(entry),
      Map("format-version" -> "2", "content" -> "deletes"))

    commitDeletes(spark, table, meta, metaV, snapId, manifestRel, manifestLen,
      formatVersion = 2, "added-delete-files" -> "1")
    DeleteStats(snapId, 1, nRows)
  }

  /** v3 MERGE-ON-READ DELETE — DELETION VECTORS (the format-version-3
    * delete shape, mirroring [[graft.sources.DeltaLite.deleteVectors]]
    * on the other format): matching rows' indices land as one roaring
    * bitmap per referenced data file, all bitmaps in ONE Puffin file
    * (`deletion-vector-v1` blobs), one manifest entry per DV carrying
    * the spec's placement triple (referenced_data_file/content_offset/
    * content_size_in_bytes), and the table's metadata moves to
    * format-version 3. A file that already carries a DV gets old ∪ new
    * (the spec's writers-must-merge rule — the reader's OR across
    * superseded blobs is then idempotent). v3 position deletes must be
    * DVs, so on a table still listing v2 position-delete files every
    * file they govern gets a DV holding their live positions too, and
    * their manifests leave the new snapshot. Scale shape identical to the
    * Delta twin: one distributed victim scan with the key set
    * broadcast, bitmaps built driver-side bounded by `maxDeleteRows`,
    * kilobytes of blob written — data files never rewritten.
    */
  def deleteRowsV3(spark: SparkSession, table: String, keys: DataFrame,
                   keyCols: Seq[String],
                   maxDeleteRows: Int = 16 << 20): DeleteStats = {
    val root = new Path(table)
    val f = fs(spark, root)
    val meta = metadata(spark, table)
    require(snapshotsOf(meta).nonEmpty, s"$table: no snapshots")
    val snapId = nextSnapshotId(Some(meta))
    val metaV = versions(spark, table).last + 1
    val snap = snapshot(spark, table)
    if (snap.detail.isEmpty) return DeleteStats(snap.snapshotId, 0, 0L)

    val (_, scanned, matching) =
      deleteScope(spark, table, meta, snap, keys, keyCols)
    val scan = readWithDeletes(spark, table, snap, scanned, keepMeta = true)
    val victims = DataFiles.labelled(spark, "iceberg.delete.victims")(
      matching(scan).select("__if", "__ip").limit(maxDeleteRows + 1).collect())
    require(victims.length <= maxDeleteRows,
      s"$table: delete batch exceeds $maxDeleteRows rows — rewrite " +
        "files (selectiveMerge / compaction) for bulk erasure")
    if (victims.isEmpty) return DeleteStats(snap.snapshotId, 0, 0L)
    val qualified = tableRoot(spark, table)
    val nameToPath = snap.detail.map(fi =>
      fileKey(qualified, fi.path) -> fi.path).toMap
    // per-file victim indices
    val byFile: Map[String, Seq[Long]] = victims
      .map(r => nameToPath(scanKey(r.getString(0))) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // the positions already live on each file — earlier DVs and the v2
    // position-delete files — merge into the new DV (writers-must-merge).
    // v3 position deletes must be DVs, so a table still listing v2
    // position-delete files folds them all in here: every file they
    // govern gets a DV and their manifests leave the new snapshot.
    val live = positionBitmaps(spark, table, snap, snap.detail, qualified)
      .map { case (c, bm) => nameToPath(c) -> bm }
    val v2Manifests = positionDeleteManifests(f, table, meta, snap)
    val targets = (byFile.keySet ++
      (if (v2Manifests.isEmpty) Set.empty[String] else live.keySet))
      .toSeq.sorted
    val bitmaps: Seq[(String, DeletionVectors.Bitmap64)] = targets.map { p =>
      val fresh = DeletionVectors.Bitmap64(byFile.getOrElse(p, Nil))
      p -> live.get(p).map(_.or(fresh)).getOrElse(fresh)
    }

    // 1. ONE Puffin file, one deletion-vector-v1 blob per data file
    val puffinRel = f"data/dv-$snapId%05d.puffin"
    f.mkdirs(dataDir(table))
    val blobRefs = Puffin.write(f, new Path(root, puffinRel),
      bitmaps.map { case (p, bm) =>
        (Puffin.dvBlob(bm.serialize()),
          Map("referenced-data-file" -> p,
            "cardinality" -> bm.cardinality.toString))
      })
    val puffinLen = f.getFileStatus(new Path(root, puffinRel)).getLen

    // 2. the DELETE manifest: one entry per DV, v3 placement triple
    val dfSchema = DeleteManifestEntrySchemaV3.getField("data_file").schema()
    val entries = bitmaps.zip(blobRefs).map { case ((p, bm), ref) =>
      record(DeleteManifestEntrySchemaV3)(
        "status" -> 1, "snapshot_id" -> snapId, "sequence_number" -> snapId,
        "data_file" -> record(dfSchema)(
          "content" -> 1,
          "file_path" -> puffinRel, "file_format" -> "PUFFIN",
          "partition" -> record(dfSchema.getField("partition").schema())(),
          "record_count" -> bm.cardinality,
          "file_size_in_bytes" -> puffinLen,
          "equality_ids" -> null,
          "referenced_data_file" -> p,
          "content_offset" -> ref.offset,
          "content_size_in_bytes" -> ref.length))
    }
    val manifestRel = f"metadata/m-$snapId%05d-dv.avro"
    val manifestLen = writeAvro(f, new Path(root, manifestRel),
      DeleteManifestEntrySchemaV3, entries,
      Map("format-version" -> "3", "content" -> "deletes"))

    // format-version 3: the DV entries are only legal there
    commitDeletes(spark, table, meta, metaV, snapId, manifestRel, manifestLen,
      formatVersion = 3, "added-dvs" -> bitmaps.size.toString, v2Manifests)
    DeleteStats(snapId, bitmaps.size, victims.length.toLong)
  }

  /** The victim side shared by [[deleteRows]] and [[deleteRowsV3]]: the
    * key batch as a [[DataFiles.KeySource]] (read onto the driver when it
    * holds at most `LocalSourceRows` rows, in a job labelled
    * `iceberg.delete.source`), the data files a victim can live in (with
    * the keys on the driver, those whose bounds on the first key admit
    * one; otherwise every file), and the rows of a scan whose key the
    * batch carries (a key-set filter for a local batch, else a broadcast
    * semi join).
    */
  private def deleteScope(spark: SparkSession, table: String, meta: JsonNode,
                          snap: Snapshot, keys: DataFrame,
                          keyCols: Seq[String])
      : (DataFiles.KeySource, Seq[FileInfo], DataFrame => DataFrame) = {
    import org.apache.spark.sql.functions.broadcast
    val src = DataFiles.keySource(spark, keys, keyCols, snap.schema,
      DataFiles.DefaultMaxPruneKeys, "iceberg.delete.source")
    val scanned = src.local.fold(snap.detail)(_ => boundsPrune(meta, table,
      snap, keyCols.head,
      src.pruneKeys(keyCols.head, DataFiles.DefaultMaxPruneKeys).get)._1)
    def matching(scan: DataFrame): DataFrame =
      src.unmatched(keyCols.map(k => scan(s"`$k`"))) match {
        case Some(keep) => scan.filter(!keep)
        case None =>
          scan.join(broadcast(src.df.select(keyCols.map(k =>
            src.df(s"`$k`")).toIndexedSeq: _*)), keyCols, "left_semi")
      }
    (src, scanned, matching)
  }

  /** The current manifest list's delete manifests that list v2
    * position-delete files. A manifest that mixes them with deletion
    * vectors or equality deletes is refused: dropping it would drop
    * those too.
    */
  private def positionDeleteManifests(f: FileSystem, table: String,
                                      meta: JsonNode,
                                      snap: Snapshot): Set[String] = {
    if (!snap.deletes.exists(d => d.content == 1 && d.contentOffset.isEmpty))
      return Set.empty
    val list = snapshotsOf(meta)
      .find(_.get("snapshot-id").asLong() == snap.snapshotId)
      .map(_.get("manifest-list").asText())
      .getOrElse(sys.error(s"$table: current snapshot has no manifest list"))
    listEntries(f, table, list).filter(_.content == 1).map(_.path).filter { mp =>
      val kinds = readAvro(f, new Path(resolvePath(table, mp)))
        .filter(_.get("status").asInstanceOf[Int] != 2).map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          opt(df, "content").contains(Int.box(1)) &&
            opt(df, "content_offset").isEmpty
        }.distinct
      require(kinds.size <= 1, s"$table: delete manifest $mp mixes v2 " +
        "position deletes with other delete kinds — refusing to fold it")
      kinds == Seq(true)
    }.toSet
  }

  /** Publish a row-level DELETE snapshot on main as metadata version
    * `metaV`: the current snapshot's manifests carried plus the one
    * DELETE manifest, the previous metadata otherwise unchanged (a
    * delete never evolves the schema) with its format-version raised to
    * at least `formatVersion`.
    */
  private def commitDeletes(spark: SparkSession, table: String,
                            meta: JsonNode, metaV: Int, snapId: Long,
                            manifestRel: String, manifestLen: Long,
                            formatVersion: Int,
                            added: (String, String),
                            dropped: Set[String] = Set.empty): Unit = {
    val cur = meta.get("current-snapshot-id").asLong()
    val curList = snapshotsOf(meta).find(_.get("snapshot-id").asLong() == cur)
      .map(_.get("manifest-list").asText())
      .getOrElse(sys.error(s"$table: current snapshot has no manifest list"))
    val listRel = f"metadata/snap-$snapId%05d.avro"
    writeManifestList(fs(spark, new Path(table)), table, listRel, snapId,
      Some(curList), ListEntry(manifestRel, manifestLen, 1, snapId, 0),
      formatVersion, dropped)
    val newMeta = meta.deepCopy[ObjectNode]()
    ratchetFormat(newMeta, Some(meta), formatVersion)
    appendSnapshot(newMeta, snapId, Some(cur), Seq("operation" -> "delete", added),
      listRel, Option(meta.get("current-schema-id")).map(_.asInt()))
    require(publish(spark, table, newMeta, metaV),
      s"metadata rename failed: v$metaV")
  }

  /** What [[purgeDeletes]] did. */
  final case class PurgeStats(snapshotId: Long, filesRewritten: Int,
                              filesUntouched: Int)

  /** REORG / PURGE on the Iceberg side — materialize row-level deletes
    * into plain parquet by rewriting ONLY the GOVERNED data files:
    * those a live position delete (v2 file or v3 DV) masks rows of,
    * plus those whose data
    * sequence number any equality delete's strict ordering covers.
    * Untouched files survive byte-identical through their old
    * manifests. The carried delete manifests then apply to NOTHING
    * (positional references point at retired paths; the rewrite's
    * sequence number exceeds every delete's), so reads are delete-free;
    * [[expireSnapshots]] past the pre-purge snapshots reaps the delete
    * files themselves — together the compliance-erasure completion of
    * [[deleteRows]], and the [[FormatConvert]] unblocker that doesn't
    * pay a full compaction.
    */
  def purgeDeletes(spark: SparkSession, table: String): PurgeStats = {
    val snap = snapshot(spark, table)
    if (snap.deletes.isEmpty)
      return PurgeStats(snap.snapshotId, 0, snap.detail.size)
    val eqMaxSeq = snap.deletes.filter(_.content == 2).map(_.seq)
      .maxOption.getOrElse(Long.MinValue)
    // files a live position delete governs: v2 position-delete files and
    // v3 DVs alike, from the per-file bitmaps (metadata-scale driver work)
    val root = tableRoot(spark, table)
    val governed = positionBitmaps(spark, table, snap, snap.detail, root)
      .keySet
    val (touched, untouched) = snap.detail.partition(fi =>
      fi.seq < eqMaxSeq || governed(fileKey(root, fi.path)))
    if (touched.isEmpty)
      return PurgeStats(snap.snapshotId, 0, untouched.size)
    val rewritten = readWithDeletes(spark, table, snap, touched)
    val sid = commit(spark, table, rewritten, operation = "merge",
      replacing = Some(touched.map(_.path)))
    PurgeStats(sid, touched.size, untouched.size)
  }

  /** [[publish]] `meta` as the next metadata version — the metadata-only
    * edits (schema, spec, refs, properties, rollback) ride this.
    */
  private def publishMetadataVersion(spark: SparkSession, table: String,
                                     meta: ObjectNode): Int = {
    val metaV = versions(spark, table).last + 1
    require(publish(spark, table, meta, metaV),
      s"metadata rename failed: v$metaV")
    metaV
  }

  /** Ensure `meta` carries a `schemas` HISTORY array (migrating legacy
    * single-`schema` metadata), every entry with a schema-id. Returns
    * the array.
    */
  private def schemasArray(meta: ObjectNode, table: String): ArrayNode = {
    val arr = Option(meta.get("schemas")) match {
      case Some(a: ArrayNode) => a
      case _ =>
        val a = meta.putArray("schemas")
        val legacy = Option(meta.get("schema"))
          .getOrElse(sys.error(s"$table: metadata has no schema"))
          .deepCopy[ObjectNode]()
        a.add(legacy); a
    }
    arr.elements().asScala.zipWithIndex.foreach {
      case (o: ObjectNode, i) if !o.has("schema-id") => o.put("schema-id", i)
      case _ =>
    }
    arr
  }

  /** RENAME COLUMN by FIELD ID — the format's defining evolution rule:
    * a new schema (same field ids, one name changed) is APPENDED to the
    * schema history under a fresh schema-id and made current; not a byte
    * of data moves. Old data files still carry the old column name, so
    * the scan aligns PER SEQUENCE GROUP: files from an earlier schema
    * era read under their WRITTEN name and relabel to the current name
    * by field id (see readWithDeletes) — exactly how real Iceberg
    * readers resolve columns. Manifest bound maps are keyed by field id
    * and keep pruning untouched; time travel to a pre-rename snapshot
    * reads under that era's names. Top-level columns only (nested
    * renames refused).
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val cur = currentSchemaNode(meta, table)
    val names = cur.get("fields").elements().asScala
      .map(_.get("name").asText()).toSeq
    require(names.contains(from), s"$table: no column $from")
    require(!names.contains(to), s"$table: column $to already exists")
    val renamed = cur.deepCopy[ObjectNode]()
    renamed.get("fields").elements().asScala.foreach {
      case fn: ObjectNode if fn.get("name").asText() == from =>
        fn.put("name", to); ()
      case _ =>
    }
    val arr = schemasArray(meta, table)
    val sid = arr.elements().asScala.map(_.get("schema-id").asInt()).max + 1
    renamed.put("schema-id", sid)
    arr.add(renamed)
    meta.put("current-schema-id", sid)
    meta.set[ObjectNode]("schema", renamed.deepCopy())
    publishMetadataVersion(spark, table, meta)
  }

  /** DROP COLUMN — metadata-only, the [[renameColumn]] sibling: the
    * field leaves the current schema (fresh schema-id in the history);
    * its values stay orphaned in the data files, invisible to every
    * read because scans project the current schema's columns only. The
    * field id is never reused (`last-column-id` is monotonic), and
    * RE-ADDING the dropped NAME is REFUSED at commit (this reader
    * resolves parquet columns by name, so a same-named column would
    * read the orphaned values — the refusal is what makes "old values
    * never resurrect" a hard guarantee here).
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val cur = currentSchemaNode(meta, table)
    val fields = cur.get("fields").elements().asScala.toSeq
    require(fields.exists(_.get("name").asText() == name),
      s"$table: no column $name")
    require(fields.size > 1, s"$table: cannot drop the last column")
    val dropped = cur.deepCopy[ObjectNode]()
    val keep = dropped.putArray("fields")
    fields.filterNot(_.get("name").asText() == name)
      .foreach(fn => keep.add(fn.deepCopy[JsonNode]()))
    val arr = schemasArray(meta, table)
    val sid = arr.elements().asScala.map(_.get("schema-id").asInt()).max + 1
    dropped.put("schema-id", sid)
    arr.add(dropped)
    meta.put("current-schema-id", sid)
    meta.set[ObjectNode]("schema", dropped.deepCopy())
    publishMetadataVersion(spark, table, meta)
  }

  /** ROLLBACK to a retained snapshot — the format's RESTORE: metadata
    * only (current-snapshot-id repointed in a NEW metadata version);
    * nothing is deleted, history keeps moving forward, and the
    * rolled-past snapshots stay time-travelable until
    * [[expireSnapshots]].
    */
  def rollbackTo(spark: SparkSession, table: String,
                 snapshotId: Long): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val ids = snapshotsOf(meta).map(_.get("snapshot-id").asLong())
    require(ids.contains(snapshotId),
      s"$table: snapshot $snapshotId not retained (have $ids)")
    moveMain(meta, snapshotId)
    publishMetadataVersion(spark, table, meta)
  }

  // ===== branch/tag refs — the spec's `refs` map: named snapshot
  // pointers; branches advance via commitToBranch (write-audit-publish),
  // tags are immutable audit marks =====

  /** The table's refs: name -> (snapshot-id, "branch"|"tag"). The
    * `main` branch ref, when present, mirrors current-snapshot-id
    * (kept in sync by every main commit).
    */
  def tableRefs(spark: SparkSession, table: String): Map[String, (Long, String)] = {
    val meta = metadata(spark, table)
    Option(meta.get("refs")).collect { case o: ObjectNode => o }
      .map(_.properties().iterator().asScala.map { e =>
        e.getKey -> (e.getValue.get("snapshot-id").asLong(),
          e.getValue.get("type").asText())
      }.toMap).getOrElse(Map.empty)
  }

  private def putRef(spark: SparkSession, table: String, name: String,
                     refType: String, at: Option[Long]): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val ids = snapshotsOf(meta).map(_.get("snapshot-id").asLong())
    val target = at.getOrElse(meta.get("current-snapshot-id").asLong())
    require(ids.contains(target),
      s"$table: snapshot $target not retained (have $ids)")
    val refs = Option(meta.get("refs"))
      .collect { case o: ObjectNode => o }
      .getOrElse(meta.putObject("refs"))
    require(!refs.has(name), s"$table: ref $name already exists")
    setRef(refs, name, target, refType)
    publishMetadataVersion(spark, table, meta)
  }

  /** CREATE BRANCH at a retained snapshot (default: the current one).
    * Later [[commitToBranch]] calls advance it independently of main —
    * the write-audit-publish (WAP) staging shape.
    */
  def createBranch(spark: SparkSession, table: String, name: String,
                   at: Option[Long] = None): Int =
    putRef(spark, table, name, "branch", at)

  /** CREATE TAG — an immutable named snapshot pointer (audit marks,
    * release pins). Protected from [[expireSnapshots]].
    */
  def createTag(spark: SparkSession, table: String, name: String,
                at: Option[Long] = None): Int =
    putRef(spark, table, name, "tag", at)

  /** DROP a branch or tag (its snapshots stay until expire). `main`
    * is not droppable — it mirrors current-snapshot-id.
    */
  def dropRef(spark: SparkSession, table: String, name: String,
              expectedType: Option[String] = None): Int = {
    require(name != "main", s"$table: the main branch ref is not droppable")
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val refs = Option(meta.get("refs")).collect { case o: ObjectNode => o }
      .getOrElse(sys.error(s"$table: no refs"))
    require(refs.has(name), s"$table: no ref $name")
    // DROP TAG on a branch (or vice versa) must refuse — dropping the
    // wrong kind un-protects snapshots the caller meant to keep
    expectedType.foreach { want =>
      val actual = Option(refs.get(name).get("type")).map(_.asText())
        .getOrElse("branch")
      require(actual == want,
        s"$table: ref $name is a $actual, not a $want — " +
          s"use DROP ${actual.toUpperCase}")
    }
    refs.remove(name)
    publishMetadataVersion(spark, table, meta)
  }

  /** Read the table at a branch head or tag (`VERSION AS OF 'ref'`). */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    val r = tableRefs(spark, table).getOrElse(name,
      sys.error(s"$table: no ref $name"))
    read(spark, table, Some(r._1))
  }

  /** Append `df` on the BRANCH head — main (current-snapshot-id and
    * the snapshot-log) is untouched; only refs[branch] advances. The
    * staged snapshot rides the normal commit machinery (manifests,
    * bounds, stats), so branch reads prune like any other.
    */
  def commitToBranch(spark: SparkSession, table: String, branch: String,
                     df: DataFrame, operation: String = ""): Long =
    commitAttempt(spark, table, df, overwrite = false, operation,
      partitionBy = Nil, replacing = None, nameToken = None,
      ifAbsent = false, toBranch = Some(branch))
      .getOrElse(sys.error("unreachable: a lost non-contended claim raises"))

  /** FAST-FORWARD main to a branch head — the publish half of WAP:
    * metadata-only (current-snapshot-id repointed + snapshot-log
    * entry), refused unless the current main head is an ANCESTOR of
    * the branch head (anything else is not a fast-forward — rollback
    * or cherry-pick territory).
    */
  def fastForward(spark: SparkSession, table: String, branch: String): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val refs = Option(meta.get("refs")).collect { case o: ObjectNode => o }
      .getOrElse(sys.error(s"$table: no refs"))
    val r = Option(refs.get(branch)).getOrElse(
      sys.error(s"$table: no ref $branch"))
    require(r.get("type").asText() == "branch",
      s"$table: ref $branch is a tag")
    val target = r.get("snapshot-id").asLong()
    val cur = meta.get("current-snapshot-id").asLong()
    val byId: Map[Long, JsonNode] =
      snapshotsOf(meta).map(s => s.get("snapshot-id").asLong() -> s).toMap
    // ancestor walk: target ... parent chain ... must pass through cur
    var probe: Option[Long] = Some(target)
    var isAncestor = false
    while (probe.nonEmpty && !isAncestor) {
      if (probe.contains(cur)) isAncestor = true
      else probe = probe.flatMap(byId.get)
        .flatMap(s => Option(s.get("parent-snapshot-id")).map(_.asLong()))
    }
    require(isAncestor,
      s"$table: main ($cur) is not an ancestor of $branch ($target) — " +
        "not a fast-forward")
    moveMain(meta, target)
    publishMetadataVersion(spark, table, meta)
  }

  /** SET TBLPROPERTIES — metadata-only property write (carried forward
    * verbatim by every later commit).
    */
  def setProperty(spark: SparkSession, table: String, key: String,
                  value: String): Int = {
    val meta = metadata(spark, table).deepCopy[ObjectNode]()
    val props = Option(meta.get("properties"))
      .collect { case o: ObjectNode => o }
      .getOrElse(meta.putObject("properties"))
    props.put(key, value)
    publishMetadataVersion(spark, table, meta)
  }

  /** The newest snapshot stamped strictly BEFORE `tsMillis` — the
    * anchor the `startingTimestamp` stream option translates to (the
    * source delivers changes strictly after its anchor, so everything
    * stamped at or after T flows). None when every snapshot is at or
    * after the bound (deliver from the beginning).
    */
  /** Does any snapshot carry a real wall-clock `timestamp-ms`? (This
    * library's own writer zeroes them for determinism; foreign logs
    * carry real stamps.) Time-keyed callers refuse on zero-stamp logs.
    */
  def hasWallClockStamps(spark: SparkSession, table: String): Boolean =
    snapshotsOf(metadata(spark, table)).exists(s =>
      Option(s.get("timestamp-ms")).exists(_.asLong() > 0))

  def lastSnapshotBefore(spark: SparkSession, table: String,
                         tsMillis: Long): Option[Long] = {
    val meta = metadata(spark, table)
    snapshotsOf(meta)
      .filter(s => Option(s.get("timestamp-ms")).exists(_.asLong() < tsMillis))
      .lastOption.map(_.get("snapshot-id").asLong())
  }

  /** PARTITION SPEC EVOLUTION (`ALTER TABLE … WRITE PARTITIONED BY` —
    * the spec's `update-spec` DDL): declare a NEW default partition
    * spec, metadata-only — NO data moves. Existing files stay bound
    * forever to the spec they were written under (pruning on a field
    * they lack is conservative — [[readWherePart]]'s by-name contract);
    * the next write under [[currentSpecDecls]] lands under the new
    * default, so OPTIMIZE/selectiveMerge adopt it automatically.
    * Partition field-ids continue globally from `last-partition-id`,
    * fields already seen in any prior spec keep their ids, and
    * re-declaring a historical spec just moves `default-spec-id` back —
    * the exact id algebra the real writer uses. Empty `transforms`
    * evolves to the unpartitioned spec. Returns the new default
    * spec-id.
    */
  def evolvePartitionSpec(spark: SparkSession, table: String,
                          transforms: Seq[String]): Int = {
    val prev = metadata(spark, table)
    val meta = prev.deepCopy[ObjectNode]()
    val currentIdentity = partitionSpecFields(prev)
      .filter(_.transform == "identity").map(_.sourceId).toSet
    val (fields, defaultId) = declareSpec(meta, Some(prev),
      currentSchemaNode(prev, table), table, transforms.map { decl =>
        val (tf, src) = parseTransformDecl(decl)
        (transformFieldName(tf, src), tf, src)
      })
    // identity fields put their SOURCE COLUMN in the directory layout
    // and DROP it from the data files — that physical choice is fixed at
    // write time, so a metadata-only evolution may not change the
    // identity set once data exists (old and new files would need
    // conflicting basePath discovery). Transforms (bucket/truncate/
    // time) keep the source column in-file and evolve freely.
    val newIdentity = fields.filter(_.get("transform").asText() == "identity")
      .map(_.get("source-id").asInt()).toSet
    require(snapshotsOf(prev).isEmpty || newIdentity == currentIdentity,
      s"$table: identity (hive-layout) partition fields cannot change " +
        "by metadata-only evolution — existing files' directory layout " +
        "is fixed; rewrite via overwrite with the new partitionBy")
    publishMetadataVersion(spark, table, meta)
    defaultId
  }

  /** Declare `cols` — (field name, transform, source column) — as the
    * default partition spec of `meta`, against the spec history carried
    * from `prev`. Partition-spec EVOLUTION means a table accumulates
    * specs over its life, each data file forever bound to the spec it
    * was written under (old files lack the new spec's partition values
    * and prune conservatively by field name, readWherePart's contract).
    * The declared layout either matches an existing spec (reuse its id —
    * the steady state) or joins the history under a fresh one. Partition
    * FIELD-ids are globally unique across the history (spec's reserved
    * ≥1000 range, continued from last-partition-id); a field already
    * seen in any prior spec keeps its id, exactly the real writer's
    * assignment. Returns the declared fields and the default spec-id.
    */
  private def declareSpec(meta: ObjectNode, prev: Option[JsonNode],
                          schemaNode: JsonNode, table: String,
                          cols: Seq[(String, String, String)])
      : (Seq[ObjectNode], Int) = {
    val prevSpecs: Seq[ObjectNode] =
      prev.flatMap(m => Option(m.get("partition-specs")))
        .map(_.elements().asScala
          .collect { case o: ObjectNode => o.deepCopy[ObjectNode]() }.toSeq)
        .getOrElse(Nil)
    val knownIds: Map[(Int, String), Int] =
      prevSpecs.flatMap(_.get("fields").elements().asScala)
        .map(f => (f.get("source-id").asInt(),
          f.get("transform").asText()) -> f.get("field-id").asInt()).toMap
    var nextId = math.max(prev.flatMap(m => Option(m.get("last-partition-id")))
      .map(_.asInt()).getOrElse(999), 999)
    val fields: Seq[ObjectNode] = cols.map { case (name, transform, source) =>
      val sourceId = schemaNode.get("fields").elements().asScala
        .find(_.get("name").asText() == source)
        .map(_.get("id").asInt())
        .getOrElse(sys.error(
          s"$table: partition source column not in schema: $source"))
      val n = mapper.createObjectNode()
      n.put("name", name)
      n.put("transform", transform)
      n.put("source-id", sourceId)
      n.put("field-id",
        knownIds.getOrElse((sourceId, transform), { nextId += 1; nextId }))
      n
    }
    def key(fs: Seq[JsonNode]): Seq[(Int, String)] =
      fs.map(f => (f.get("source-id").asInt(), f.get("transform").asText()))
    val (specs, defaultId) = prevSpecs.find(s =>
      key(s.get("fields").elements().asScala.toSeq) == key(fields)) match {
      case Some(s) => (prevSpecs, s.get("spec-id").asInt())
      case None =>
        val newId = prevSpecs.map(_.get("spec-id").asInt())
          .maxOption.getOrElse(-1) + 1
        val n = mapper.createObjectNode()
        n.put("spec-id", newId)
        val fs = n.putArray("fields")
        fields.foreach(f => fs.add(f.deepCopy[JsonNode]()))
        (prevSpecs :+ n, newId)
    }
    val legacy = meta.putArray("partition-spec") // v1 legacy form
    fields.foreach(f => legacy.add(f.deepCopy[JsonNode]()))
    val specsArr = meta.putArray("partition-specs")
    specs.foreach(specsArr.add(_))
    meta.put("default-spec-id", defaultId)
    meta.put("last-partition-id", math.max(nextId,
      specs.flatMap(_.get("fields").elements().asScala)
        .map(_.get("field-id").asInt()).maxOption.getOrElse(999)))
    (fields, defaultId)
  }

  /** The table's property map (SHOW TBLPROPERTIES' source) — metadata
    * JSON only, no snapshot resolution.
    */
  def tableProperties(spark: SparkSession,
                      table: String): Map[String, String] =
    Option(metadata(spark, table).get("properties"))
      .collect { case o: ObjectNode => o }
      .map(_.properties().iterator().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)

  /** Incremental consumption (the format's append-changelog surface):
    * the rows added by snapshots in `(fromSnapshotId, toSnapshotId]`,
    * read WITHOUT rescanning the table — under append-only history the
    * added file set is exactly the snapshot file-set difference, so the
    * scan touches only the new files. Every snapshot in the range must
    * be an `append` (an overwrite/replace in range rewrites history and
    * has no well-defined row delta — REFUSED loudly, matching the real
    * reader's incremental-scan contract).
    */
  def incrementalRead(spark: SparkSession, table: String,
                      fromSnapshotId: Long,
                      toSnapshotId: Option[Long] = None): DataFrame = {
    val meta = metadata(spark, table)
    val snaps = snapshotsOf(meta)
    val ids = snaps.map(_.get("snapshot-id").asLong())
    val toId = toSnapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    // range resolution by the snapshots array's APPEND ORDER, not id
    // arithmetic — foreign writers use RANDOM snapshot ids, where
    // numeric comparison would pick a garbage window (this library's own
    // sequential ids order identically either way)
    val fromIdx = ids.indexOf(fromSnapshotId)
    val toIdx = ids.indexOf(toId)
    require(fromIdx >= 0 && toIdx >= 0,
      s"$table: snapshot range ($fromSnapshotId, $toId] not resolvable in $ids")
    require(fromIdx <= toIdx, "from must precede to in table history")
    val inRange = snaps.slice(fromIdx + 1, toIdx + 1)
    inRange.foreach { s =>
      val op = Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
        .map(_.asText()).getOrElse("")
      require(op == "append",
        s"$table: snapshot ${s.get("snapshot-id").asLong()} is '$op' — " +
          "incremental read requires an append-only range, refusing")
    }
    val to = snapshot(spark, table, Some(toId))
    val fromFiles = snapshot(spark, table, Some(fromSnapshotId)).files.toSet
    readFileList(spark, table, to.schema,
      to.files.filterNot(fromFiles.contains))
  }

  /** ROW-LEVEL changelog between two snapshots — the [[incrementalRead]]
    * counterpart that handles DELETES and REWRITES, and the Iceberg face
    * of [[DeltaLite.changes]]: the net visibility diff classified into
    * the CDF `_change_type` vocabulary (insert / delete /
    * update_preimage / update_postimage by `keys`).
    *
    * File identity = (path, data sequence number, the delete files
    * APPLICABLE to it) — so a merge-on-read delete snapshot (same data
    * files, one new position/equality delete file) diffs exactly the
    * newly-masked rows; an overwrite/merge diffs the replaced files; and
    * a compaction `replace` nets to ZERO rows (rows moved, visibility
    * unchanged) instead of refusing the way incrementalRead must. Cost ∝
    * files whose visibility changed (each side read through its OWN
    * snapshot's delete masks via the merge-on-read scan), never the
    * table.
    *
    * `withVersion` stamps `_commit_version` with the TO snapshot's
    * HISTORY ORDINAL (its index in the snapshots array) — foreign
    * writers use RANDOM snapshot ids, so the ordinal, not the id, is
    * what ordering-sensitive consumers (replication) must sort on.
    */
  /** The files whose VISIBILITY differs between two snapshots — the
    * planning half of [[changes]], factored out so its economics are
    * testable (the symmetric diff cancels rows either way; what this
    * decides is how much gets READ). Identity = (data sequence number,
    * the delete files applicable to the file). v3 DVs are scoped to
    * their referenced_data_file — without the scoping one DV delete
    * would change EVERY file's identity and the diff would re-read the
    * whole table on both sides; the DV tag carries the blob offset so
    * two DVs sharing a Puffin path stay distinct. Canonicalization is
    * precomputed per DELETE entry (O(files + deletes) driver work, not
    * O(files × deletes) regex passes — a streaming CDF micro-batch
    * plans this on every trigger).
    */
  private[graft] def changedSplit(spark: SparkSession, table: String,
                                  from: Snapshot, to: Snapshot)
      : (Seq[FileInfo], Seq[FileInfo]) = {
    val root = tableRoot(spark, table)
    def identOf(s: Snapshot): Map[String, (Long, String)] = {
      val dvByRef: Map[String, Seq[(Long, String)]] = s.deletes
        .filter(d => d.content == 1 && d.contentOffset.isDefined)
        .groupBy(d => fileKey(root, d.refDataFile.get))
        .view.mapValues(_.map(d =>
          (d.seq, d.path + "@" + d.contentOffset.get)).toSeq).toMap
      val plainDeletes = s.deletes.filter(d =>
        d.content == 2 || (d.content == 1 && d.contentOffset.isEmpty))
      s.detail.map { fi =>
        val plain = plainDeletes.collect {
          case d if (d.content == 1 && d.seq >= fi.seq) ||
            (d.content == 2 && d.seq > fi.seq) => d.path
        }
        val dv =
          if (dvByRef.isEmpty) Nil
          else dvByRef.getOrElse(fileKey(root, fi.path), Nil)
            .collect { case (seq, tag) if seq >= fi.seq => tag }
        fi.path -> (fi.seq, (plain ++ dv).sorted.mkString(","))
      }.toMap
    }
    val fromIdent = identOf(from)
    val toIdent = identOf(to)
    (to.detail.filter(fi =>
      !fromIdent.get(fi.path).contains(toIdent(fi.path))),
      from.detail.filter(fi =>
        !toIdent.get(fi.path).contains(fromIdent(fi.path))))
  }

  def changes(spark: SparkSession, table: String, fromSnapshotId: Long,
              toSnapshotId: Option[Long], keys: Seq[String],
              withVersion: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "changes needs the key columns for classification")
    val meta = metadata(spark, table)
    val ids = snapshotsOf(meta).map(_.get("snapshot-id").asLong())
    val toId = toSnapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val fromIdx = ids.indexOf(fromSnapshotId)
    val toIdx = ids.indexOf(toId)
    require(fromIdx >= 0 && toIdx >= 0,
      s"$table: snapshot range ($fromSnapshotId, $toId] not resolvable in $ids")
    require(fromIdx <= toIdx, "from must precede to in table history")
    val from = snapshot(spark, table, Some(fromSnapshotId))
    val to = snapshot(spark, table, Some(toId))
    val (changedNew, changedOld) = changedSplit(spark, table, from, to)
    // the shared symmetric-diff classifier cancels rows whose visibility
    // didn't actually change (compaction rewrites) in ONE scan per side
    ChangeFeed.netDiff(readWithDeletes(spark, table, to, changedNew),
      readWithDeletes(spark, table, from, changedOld), to.schema, keys,
      if (withVersion) Some(toIdx.toLong) else None)
  }

  /** TIMESTAMP AS OF — [[DeltaLite.readAsOf]]'s Iceberg face: resolve
    * the latest `snapshot-log` entry at or before `timestampMs` (the
    * spec's time-travel channel; foreign writers stamp real wall-clock
    * there) and read that snapshot. Refused when the table predates any
    * log entry at the asked time, naming the earliest available.
    */
  def readAsOf(spark: SparkSession, table: String,
               timestampMs: Long): DataFrame = {
    val meta = metadata(spark, table)
    val entries = Option(meta.get("snapshot-log"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    require(entries.nonEmpty,
      s"$table: no snapshot-log to resolve a timestamp against")
    val at = entries.filter(_.get("timestamp-ms").asLong() <= timestampMs)
    require(at.nonEmpty,
      s"$table: no snapshot at or before $timestampMs (earliest is " +
        s"${entries.head.get("timestamp-ms").asLong()})")
    read(spark, table, Some(at.last.get("snapshot-id").asLong()))
  }

  /** METADATA-VERSION retention — [[DeltaLite.cleanupLogs]]' Iceberg
    * face: every commit writes a full `vN.metadata.json`, and without
    * cleanup a busy table accumulates one forever (snapshot TIME TRAVEL
    * does NOT need them — the `snapshots` array of the CURRENT metadata
    * resolves every retained snapshot; old metadata versions serve only
    * metadata archaeology). Deletes all but the newest `retainVersions`
    * metadata files; `version-hint.text` keeps pointing at the tip.
    * Returns deleted file names.
    */
  def cleanupMetadata(spark: SparkSession, table: String,
                      retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    val vs = versions(spark, table)
    val f = fs(spark, metaDir(table))
    vs.dropRight(retainVersions).map { v =>
      f.delete(metaFile(table, v), false)
      s"v$v.metadata.json"
    }
  }

  /** A snapshot id's position in the table history (the ordering key
    * foreign random ids can't provide).
    */
  private[graft] def historyOrdinal(spark: SparkSession, table: String,
                                    snapshotId: Long): Long = {
    val ids = snapshotsOf(metadata(spark, table))
      .map(_.get("snapshot-id").asLong())
    val idx = ids.indexOf(snapshotId)
    require(idx >= 0, s"$table: snapshot $snapshotId not in history $ids")
    idx.toLong
  }

  /** The `files` METADATA TABLE — planFiles exposed as a queryable
    * DataFrame (the Iceberg twin of DESCRIBE DETAIL's per-file
    * economics): one row per live data file of the current snapshot with
    * its manifest-recorded record count, byte size, hive-style partition
    * tuple, and data sequence number. Manifest metadata only — no data
    * or file-system I/O, the 100 TB planning contract.
    */
  def files(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val s = snapshot(spark, table)
    s.detail.map { fi =>
      val part =
        if (fi.partition.isEmpty) null
        else fi.partition.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("/")
      (fi.path, fi.recordCount, fi.sizeBytes, part, fi.seq)
    }.toDF("path", "record_count", "size_bytes", "partition", "data_seq")
  }

  /** The `partitions` METADATA TABLE: [[files]] rolled up per partition
    * tuple — file count, record count, bytes. Same metadata-only cost.
    */
  def partitions(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    files(spark, table)
      .groupBy("partition")
      .agg(count(lit(1)).as("n_files"),
        sum("record_count").as("record_count"),
        sum("size_bytes").as("size_bytes"))
      .orderBy("partition")
  }

  /** DESCRIBE HISTORY over the snapshot log: one row per snapshot —
    * id, parent, operation, files added/removed (from the summary the
    * writer recorded). Driver-side, bounded by snapshot count.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val meta = metadata(spark, table)
    snapshotsOf(meta).map { s =>
      val sum = Option(s.get("summary"))
      (s.get("snapshot-id").asLong(),
        Option(s.get("parent-snapshot-id")).map(_.asLong()).getOrElse(-1L),
        sum.flatMap(x => Option(x.get("operation"))).map(_.asText()).getOrElse(""),
        sum.flatMap(x => Option(x.get("added-data-files"))).map(_.asText().toLong).getOrElse(-1L),
        sum.flatMap(x => Option(x.get("removed-data-files"))).map(_.asText().toLong).getOrElse(-1L))
    }.toDF("snapshot_id", "parent_id", "operation", "n_added", "n_removed")
  }

  /** Expire all but the last `retainSnapshots` snapshots (the format's GC
    * verb): a NEW metadata version drops the expired snapshot entries,
    * then data files / manifests / manifest lists referenced by no
    * retained snapshot are deleted. Time travel to an expired id now
    * fails at resolution (snapshot not found) — the format's own
    * contract. Returns deleted file paths (relative).
    */
  /** [[expireSnapshots]], wall-clock flavored (the spec's
    * `expire_snapshots(older_than)`): keep every snapshot stamped at or
    * after the cutoff (plus the current one and all ref'd ones — the
    * count delegates to the version-count keep-set, which protects
    * refs). The snapshots array is append-ordered with monotonic
    * `timestamp-ms`, so the retained set is a trailing window.
    */
  def expireSnapshotsOlderThan(spark: SparkSession, table: String,
                               cutoffMillis: Long): Seq[String] = {
    val meta = metadata(spark, table)
    val snaps = snapshotsOf(meta)
    if (snaps.isEmpty) return Seq.empty
    // a zero-stamp snapshot log (this library's own deterministic
    // writer) has no wall-clock to retain by — refuse rather than
    // silently expiring everything a positive cutoff would compute
    require(snaps.exists(s =>
        Option(s.get("timestamp-ms")).exists(_.asLong() > 0)),
      s"$table: no wall-clock snapshot timestamps — use the " +
        "version-count flavor (expireSnapshots / RETAIN n VERSIONS)")
    // +1 keeps the snapshot a reader AT the cutoff still resolves to
    val retained = snaps.count(s =>
      Option(s.get("timestamp-ms")).exists(_.asLong() >= cutoffMillis)) + 1
    expireSnapshots(spark, table,
      math.min(math.max(retained, 1), snaps.size))
  }

  def expireSnapshots(spark: SparkSession, table: String,
                      retainSnapshots: Int = 1): Seq[String] = {
    require(retainSnapshots >= 1, "must retain at least the current snapshot")
    val meta = metadata(spark, table)
    val f = fs(spark, metaDir(table))
    val snaps = snapshotsOf(meta)
    if (snaps.size <= retainSnapshots) return Seq.empty
    // branch heads and tags are PROTECTED: a ref'd snapshot expiring
    // would leave a dangling named pointer
    val refIds: Set[Long] = Option(meta.get("refs"))
      .collect { case o: ObjectNode => o }
      .map(_.properties().iterator().asScala
        .map(_.getValue.get("snapshot-id").asLong()).toSet)
      .getOrElse(Set.empty)
    // the CURRENT snapshot is always kept outright: branch commits share
    // the snapshots array, so a busy staging branch could otherwise push
    // main's head out of the takeRight window and brick expiry on the
    // old require("refusing to expire the current snapshot")
    val keepIds = snaps.takeRight(retainSnapshots)
      .map(_.get("snapshot-id").asLong()).toSet ++ refIds +
      meta.get("current-snapshot-id").asLong()

    def reachable(ids: Set[Long]): (Set[String], Set[String]) = {
      val (ls, ms, ds) = snaps.filter(s => ids.contains(s.get("snapshot-id").asLong()))
        .foldLeft((Set.empty[String], Set.empty[String], Set.empty[String])) {
          case ((lists, manifests, files), s) =>
            val lp = s.get("manifest-list").asText()
            val mps = listEntries(f, table, lp).map(_.path)
            val fps = mps.flatMap(mp =>
              readAvro(f, new Path(resolvePath(table, mp)))
                .filter(_.get("status").asInstanceOf[Int] != 2)
                .map(_.get("data_file").asInstanceOf[GenericRecord]
                  .get("file_path").toString))
            (lists + lp, manifests ++ mps, files ++ fps)
        }
      (ls ++ ms, ds)
    }
    val allIds = snaps.map(_.get("snapshot-id").asLong()).toSet
    val (keepMeta, keepData) = reachable(keepIds)
    val (dropMeta, dropData) = reachable(allIds -- keepIds)

    // publish the pruned metadata FIRST — readers must stop resolving
    // expired snapshots before their files disappear
    val metaV = versions(spark, table).last + 1
    val pruned = meta.deepCopy[ObjectNode]()
    val arr = pruned.putArray("snapshots")
    snaps.filter(s => keepIds.contains(s.get("snapshot-id").asLong()))
      .foreach(s => arr.add(s.deepCopy[JsonNode]()))
    require(publish(spark, table, pruned, metaV), "expire metadata rename failed")

    val victims = (dropMeta -- keepMeta) ++ (dropData -- keepData)
    victims.toSeq.sorted.map { rel =>
      f.delete(new Path(resolvePath(table, rel)), false); rel
    }
  }

  /** REMOVE ORPHAN FILES — the debris sweep [[expireSnapshots]] can
    * never reach because nothing references it: data files and avro
    * manifests/lists left by failed or lost commit attempts (the OCC
    * loop's losers), plus abandoned `.staging-*` dirs. Builds the
    * referenced set from EVERY retained snapshot's manifest chain
    * (driver-side avro metadata reads — bounded by manifest count, the
    * same cost every Iceberg `remove_orphan_files` pays), then deletes
    * unreferenced files under `data/` and unreferenced `.avro` under
    * `metadata/`. Metadata JSON versions belong to [[cleanupMetadata]];
    * `version-hint.text` is never touched. The real engine's in-flight
    * caveat applies here too: run this only when no write is in
    * progress (a racer's staged-but-uncommitted attempt looks exactly
    * like an orphan).
    */
  def removeOrphanFiles(spark: SparkSession, table: String): Seq[String] = {
    val root = new Path(table)
    val f = fs(spark, root)
    val meta = metadata(spark, table)
    val qual = (p: Path) => f.makeQualified(p).toString
    val referenced = scala.collection.mutable.Set.empty[String]
    snapshotsOf(meta).foreach { s =>
      val lp = s.get("manifest-list").asText()
      referenced += qual(new Path(resolvePath(table, lp)))
      listEntries(f, table, lp).foreach { m =>
        val mp = new Path(resolvePath(table, m.path))
        referenced += qual(mp)
        readAvro(f, mp).foreach(e =>
          referenced += qual(new Path(resolvePath(table,
            e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path").toString))))
      }
    }
    val victims = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: Path): Unit =
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (!referenced.contains(qual(st.getPath))) {
          f.delete(st.getPath, false)
          victims += st.getPath.toString.stripPrefix(qual(root) + "/")
        }
      }
    walk(dataDir(table))
    // metadata/: unreferenced avro only — JSON versions + hint stay
    if (f.exists(metaDir(table)))
      f.listStatus(metaDir(table)).foreach { st =>
        if (!st.isDirectory && st.getPath.getName.endsWith(".avro") &&
            !referenced.contains(qual(st.getPath))) {
          f.delete(st.getPath, false)
          victims += s"metadata/${st.getPath.getName}"
        }
      }
    // abandoned staging dirs at the root
    f.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".staging-")) {
        f.delete(st.getPath, true)
        victims += st.getPath.getName
      }
    }
    victims.toSeq.sorted
  }

  /** Bin-packing compaction as a snapshot commit (OPTIMIZE): rewrite the
    * current snapshot into `targetFiles` files in one distributed pass;
    * readers see the old or new file set atomically, and time travel to
    * pre-compaction snapshots works until [[expireSnapshots]].
    */
  def optimizeCompact(spark: SparkSession, table: String,
                      targetFiles: Int = 1): Long =
    commit(spark, table, read(spark, table).coalesce(targetFiles),
      overwrite = true, operation = "replace",
      partitionTransforms = currentSpecDecls(spark, table))

  /** The table's current partition spec reconstructed as DDL decl strings
    * (`days(ts)`, `bucket(8, id)`, …) so maintenance rewrites preserve the
    * spec and hive layout — an OPTIMIZE must never silently flatten a
    * partitioned table into an unpartitioned one (readWherePart and
    * selectiveMerge pruning would stop working).
    */
  private[graft] def currentSpecDecls(spark: SparkSession,
                                      table: String): Seq[String] = {
    val meta = metadata(spark, table)
    val sourceName: Map[Int, String] =
      currentSchemaNode(meta, table).get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    partitionSpecFields(meta).filter(_.transform != "void").map(tf =>
      transformDecl(tf, sourceName.getOrElse(tf.sourceId,
        sys.error(s"$table: spec field ${tf.name} has no source column"))))
  }

  /** Z-ORDER re-cluster as a `replace` snapshot — the Iceberg face of the
    * shared graft.functions.ZOrder.clusterByZ kernel (data-sized bit
    * budget, wrap-proof shifts): one range-shuffle rewrite after which
    * every data file covers a tight rectangle in the clustered key space,
    * so the manifest `lower_bounds`/`upper_bounds` written at commit time
    * become selective per column and [[readWhere]]/[[selectiveMerge]]
    * prune again on interleave-degraded layouts.
    */
  def optimizeZorder(spark: SparkSession, table: String, cols: Seq[String],
                     targetFiles: Int, bits: Int = 0): Long =
    commit(spark, table,
      graft.functions.ZOrder.clusterByZ(
        read(spark, table), cols, targetFiles, bits),
      overwrite = true, operation = "replace",
      partitionTransforms = currentSpecDecls(spark, table))
}
