package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** The Delta deletion-vector (DV) storage format — the protocol's
  * merge-on-read row-deletion channel, implemented from the PUBLIC spec
  * (delta.io PROTOCOL.md, "Deletion Vectors" + "Deletion Vector Format"):
  * a data file's deleted ROW INDICES are a 64-bit roaring bitmap stored
  * beside the table (or inline in the log), referenced from the file's
  * `add` action, and applied at scan time as an anti-filter — a DELETE
  * touches kilobytes of bitmap instead of rewriting gigabytes of parquet,
  * which is why current Delta engines write DV tables by default (the
  * reference's own MERGE feeds land exactly such tables, tasks/Query
  * History API to Delta_withmetrics.py:196-230).
  *
  * Pieces, each per the open spec:
  *  - [[z85Encode]]/[[z85Decode]]: the Z85 (ZeroMQ base-85) codec the
  *    descriptor's `pathOrInlineDv` field uses for UUIDs and inline DVs.
  *  - [[Bitmap64]]: the "RoaringBitmapArray" 64-bit bitmap — high 32 bits
  *    index a sequence of standard 32-bit roaring bitmaps, low 32 bits are
  *    the in-bitmap value — in its PORTABLE serialization (little-endian
  *    magic 1681511377, int64 bitmap count, then each 32-bit bitmap in
  *    the interoperable roaring format, consecutive keys from 0).
  *  - DV FILE layout: a 1-byte format version (1), then each DV at its
  *    descriptor `offset` as <int32-BE size><bitmap bytes><int32-BE
  *    CRC-32 of the bitmap bytes>; `sizeInBytes` is the bitmap length.
  *  - [[DvProbe]]: the scan-side membership test as a native Catalyst
  *    expression over a BROADCAST map of serialized bitmaps — the bitmap
  *    ships to each executor once (compressed, exactly what real readers
  *    hold per open file), rows probe with zero shuffle, and the filter
  *    stays inside whole-stage codegen.
  *
  * Scale shape: bitmap bytes ∝ deleted rows (compressed), never table
  * size; the probe is O(1) per row against a per-executor deserialized
  * cache. The broadcast ceiling is the sum of live DV sizes — the same
  * memory a real Delta scan pays to apply the same DVs.
  */
object DeletionVectors {

  // ------------------------------------------------------------------ Z85
  /** The Z85 alphabet (ZeroMQ RFC 32; the encoding Delta's DV descriptors
    * use for `pathOrInlineDv`). 4 bytes ↔ 5 chars, big-endian base 85.
    */
  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Index: Array[Int] = {
    val idx = Array.fill(128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => idx(c.toInt) = i }
    idx
  }

  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"Z85 encodes 4-byte groups; got ${bytes.length} bytes")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xFFL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) {
        sb.append(Z85Chars(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 decodes 5-char groups; got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Index(c.toInt) else -1
        require(d >= 0, s"not a Z85 character: '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  // ------------------------------------------- 64-bit roaring bitmap array
  /** Little-endian magic number of the portable RoaringBitmapArray
    * serialization (PROTOCOL.md names this exact constant).
    */
  private val PortableMagic = 1681511377

  /** Delta's RoaringBitmapArray: row indices are longs whose high 32 bits
    * pick a 32-bit roaring bitmap and low 32 bits are the member. Backed
    * by the RoaringBitmap on Spark's own classpath.
    */
  final class Bitmap64(private val maps: scala.collection.mutable.ArrayBuffer[RoaringBitmap]) {
    def this() = this(scala.collection.mutable.ArrayBuffer.empty)

    def add(v: Long): Unit = {
      require(v >= 0, s"row index must be non-negative: $v")
      val hi = (v >>> 32).toInt
      // the buffer holds one 32-bit bitmap per high word, CONSECUTIVELY
      // (the portable format's rule) — an absurd index must fail fast,
      // not allocate 2^k empty bitmaps. 2^12 words = 2^44 row indices,
      // orders of magnitude past any parquet file's row count.
      require(hi < (1 << 12),
        s"row index $v implausible for a per-file deletion vector")
      while (maps.length <= hi) maps += new RoaringBitmap()
      maps(hi).add((v & 0xFFFFFFFFL).toInt)
    }

    def contains(v: Long): Boolean = {
      if (v < 0) return false
      val hi = (v >>> 32).toInt
      hi < maps.length && maps(hi).contains((v & 0xFFFFFFFFL).toInt)
    }

    def cardinality: Long = maps.iterator.map(_.getLongCardinality).sum

    def or(other: Bitmap64): Bitmap64 = {
      val out = new Bitmap64()
      val n = math.max(maps.length, other.maps.length)
      var i = 0
      while (i < n) {
        val m = new RoaringBitmap()
        if (i < maps.length) m.or(maps(i))
        if (i < other.maps.length) m.or(other.maps(i))
        out.maps += m
        i += 1
      }
      out
    }

    /** Portable serialization: LE magic, LE int64 count, then each 32-bit
      * bitmap in the interoperable roaring format, keys 0..n-1 with empty
      * bitmaps present (the spec's "consecutive keys" rule).
      */
    def serialize(): Array[Byte] = {
      maps.foreach(_.runOptimize())
      val size = 4 + 8 + maps.iterator.map(_.serializedSizeInBytes().toLong).sum
      require(size <= Int.MaxValue, s"bitmap too large to serialize: $size")
      val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(PortableMagic)
      buf.putLong(maps.length.toLong)
      maps.foreach(_.serialize(buf))
      buf.array()
    }
  }

  object Bitmap64 {
    def apply(values: Iterable[Long]): Bitmap64 = {
      val b = new Bitmap64()
      values.foreach(b.add)
      b
    }

    def deserialize(bytes: Array[Byte]): Bitmap64 = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = buf.getInt()
      require(magic == PortableMagic,
        s"not a portable RoaringBitmapArray (magic $magic)")
      val n = buf.getLong()
      require(n >= 0 && n <= Int.MaxValue, s"implausible bitmap count $n")
      val maps = scala.collection.mutable.ArrayBuffer.empty[RoaringBitmap]
      var i = 0L
      while (i < n) {
        val m = new RoaringBitmap()
        m.deserialize(buf)
        // deserialize(ByteBuffer) does not advance the buffer — skip the
        // bitmap's own serialized size explicitly
        buf.position(buf.position() + m.serializedSizeInBytes())
        maps += m
        i += 1
      }
      new Bitmap64(maps)
    }
  }

  // ------------------------------------------------------------- DV files
  /** The `add.deletionVector` descriptor (PROTOCOL.md): `storageType` is
    * "u" (UUID-named file relative to the table root, `pathOrInlineDv` =
    * optional directory prefix + 20-char Z85 UUID), "p" (absolute path),
    * or "i" (the DV itself, Z85-inline). `offset` locates the DV inside
    * its file; `sizeInBytes` is the serialized bitmap length;
    * `cardinality` the deleted-row count.
    */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                offset: Int, sizeInBytes: Int,
                                cardinality: Long)

  /** Absolute path of a descriptor's DV file ("u"/"p" only). */
  def dvFilePath(tableRoot: Path, d: DvDescriptor): Path = d.storageType match {
    case "p" => new Path(d.pathOrInlineDv)
    case "u" =>
      val s = d.pathOrInlineDv
      require(s.length >= 20, s"malformed u-type pathOrInlineDv: $s")
      val (prefix, code) = s.splitAt(s.length - 20)
      val b = z85Decode(code)
      val bb = ByteBuffer.wrap(b)
      val uuid = new UUID(bb.getLong(), bb.getLong())
      val name = s"deletion_vector_$uuid.bin"
      if (prefix.isEmpty) new Path(tableRoot, name)
      else new Path(new Path(tableRoot, prefix), name)
    case other => sys.error(s"no file behind storageType '$other'")
  }

  /** The serialized bitmap bytes behind a descriptor — inline decode for
    * "i", a ranged read with version/size/CRC verification for "u"/"p".
    */
  def readBitmapBytes(fs: FileSystem, tableRoot: Path,
                      d: DvDescriptor): Array[Byte] = d.storageType match {
    case "i" =>
      val b = z85Decode(d.pathOrInlineDv)
      require(b.length == d.sizeInBytes,
        s"inline DV size ${b.length} != declared ${d.sizeInBytes}")
      b
    case _ =>
      val p = dvFilePath(tableRoot, d)
      val in = fs.open(p)
      try {
        val version = in.read()
        require(version == 1, s"$p: DV format version $version unsupported")
        in.seek(d.offset.toLong)
        val size = in.readInt() // big-endian, like the spec
        require(size == d.sizeInBytes,
          s"$p@${d.offset}: stored size $size != declared ${d.sizeInBytes}")
        val data = new Array[Byte](size)
        in.readFully(data)
        val storedCrc = in.readInt()
        val crc = new CRC32()
        crc.update(data)
        require(storedCrc == crc.getValue.toInt,
          s"$p@${d.offset}: DV checksum mismatch")
        data
      } finally in.close()
  }

  /** Write one DV file holding `bitmaps` (already serialized), returning
    * the shared u-type `pathOrInlineDv` and each bitmap's (offset, size).
    * The UUID is content-derived (nameUUIDFromBytes) so identical logical
    * commits produce identical logs — the same determinism contract as
    * DeltaLite.commit's zeroed timestamps.
    */
  def writeDvFile(fs: FileSystem, tableRoot: Path,
                  bitmaps: Seq[Array[Byte]]): (String, Seq[(Int, Int)]) = {
    require(bitmaps.nonEmpty, "no bitmaps to write")
    val digest = java.security.MessageDigest.getInstance("MD5")
    bitmaps.foreach(digest.update)
    val uuid = UUID.nameUUIDFromBytes(digest.digest())
    val name = s"deletion_vector_$uuid.bin"
    val target = new Path(tableRoot, name)
    val offsets = Seq.newBuilder[(Int, Int)]
    val out = fs.create(target, true)
    try {
      out.write(1) // format version
      var pos = 1
      bitmaps.foreach { b =>
        offsets += ((pos, b.length))
        out.writeInt(b.length) // big-endian
        out.write(b)
        val crc = new CRC32()
        crc.update(b)
        out.writeInt(crc.getValue.toInt)
        pos += 4 + b.length + 4
      }
    } finally out.close()
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    (z85Encode(bb.array()), offsets.result())
  }

  // ------------------------------------------------------- scan-side probe
  /** `dv_deleted(filePath, rowIndex)` — true iff `rowIndex` is a member of
    * the broadcast bitmap for the data file `filePath` names. `fileKey`
    * maps the scan's `_metadata.file_path` to the map's key, the format's
    * per-file identity: the file NAME for Delta ([[fileName]], unique
    * within a table whose part names carry UUIDs), the canonical full
    * path for Iceberg (the spec matches position deletes on the whole
    * `file_path`). It runs once per data file, not per row. Scans filter
    * on the negation. See [[DvProbe]].
    */
  def dvDeleted(bitmaps: Broadcast[Map[String, Array[Byte]]],
                filePath: Column, rowIndex: Column,
                fileKey: String => String): Column =
    GraftColumnBridge.column(DvProbe(
      GraftColumnBridge.expression(filePath),
      GraftColumnBridge.expression(rowIndex), bitmaps, fileKey))

  /** Delta's DV key: the last path segment of a scan's file path. */
  val fileName: String => String = p => p.substring(p.lastIndexOf('/') + 1)
}

/** Native expression behind [[DeletionVectors.dvDeleted]]: probes the
  * broadcast serialized-bitmap map, deserializing each file's bitmap at
  * most once per executor (a concurrent cache — the broadcast itself
  * stays compressed). Rows arrive grouped by file, so the probe keeps the
  * last file path it saw with that file's bitmap: a row of the same file
  * costs one byte comparison of the path and one bitmap lookup, and
  * `fileKey` plus the map lookup run once per file. Codegen'd: the probe
  * is one virtual call inside the whole-stage span, the same pattern as
  * BpeTokenCount's reference-object model. Null inputs (no metadata
  * column, corrupt row) read as "not deleted" — a DV can only ever HIDE
  * rows it names.
  */
case class DvProbe(left: Expression, right: Expression,
                   bitmaps: Broadcast[Map[String, Array[Byte]]],
                   fileKey: String => String)
  extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DeletionVectors.Bitmap64]()
  @transient private lazy val empty = new DeletionVectors.Bitmap64()
  /** (file path, its bitmap) of the previous row, one reference so a
    * reader on another thread never sees a torn pair.
    */
  @transient @volatile private var last: (UTF8String, DeletionVectors.Bitmap64) = _

  def deleted(filePath: UTF8String, pos: Long): Boolean = {
    val prev = last
    val bm =
      if (prev != null && prev._1 == filePath) prev._2
      else {
        val b = cache.computeIfAbsent(fileKey(filePath.toString), key =>
          bitmaps.value.get(key)
            .map(DeletionVectors.Bitmap64.deserialize)
            .getOrElse(empty))
        // the row's string may point into a reused buffer: keep a copy
        last = (filePath.clone(), b)
        b
      }
    bm.contains(pos)
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = left.eval(input)
    val p = right.eval(input)
    if (f == null || p == null) false
    else deleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvp", this)
    val f = left.genCode(ctx)
    val p = right.genCode(ctx)
    ev.copy(code =
      org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
        new StringContext(
          s"""
             |${f.code}
             |${p.code}
             |boolean ${ev.value} = false;
             |if (!${f.isNull} && !${p.isNull}) {
             |  ${ev.value} = $ref.deleted(${f.value}, ${p.value});
             |}
             |""".stripMargin)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvProbe =
    copy(left = newLeft, right = newRight)
}
