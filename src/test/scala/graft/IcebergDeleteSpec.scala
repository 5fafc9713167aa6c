package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.{ChangeFeed, IcebergLite}

/** Iceberg v2 row-level deletes (position + equality delete files) — the
  * r11 verdict's #3 gap: DELETE manifests are now a read path, not a
  * refusal. Covers write→read round trips for both delete kinds,
  * sequence-number applicability (late inserts survive earlier equality
  * deletes), merge-on-read ≡ copy-on-write parity, interaction with
  * time travel, bounds-pruned reads, compaction fold-in, snapshot
  * expiration of delete files, the one-scan merge-on-read plan (a
  * property over random histories against a plain-collection model),
  * rename alignment across a drop, and the v2 → v3 position-delete fold.
  */
class IcebergDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_iceberg_del").toString + "/t"

  test("positional deleteRows hides rows without touching data files; " +
    "time travel still sees them; repeat delete doesn't re-count") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 60L).map(k => (k, s"r$k")).toDF("k", "s").repartition(2))
    val before = IcebergLite.snapshot(spark, t)
    val sizes = before.detail.map(_.sizeBytes)

    val st = IcebergLite.deleteRows(spark, t,
      Seq(5L, 17L, 40L).toDF("k"), Seq("k"))
    assert(st.rowsDeleted == 3L && st.deleteFiles == 1)
    val after = IcebergLite.snapshot(spark, t)
    assert(after.files.toSet == before.files.toSet,
      "data file set must be untouched")
    assert(after.detail.map(_.sizeBytes) == sizes)
    assert(after.deletes.size == 1 && after.deletes.head.content == 1)

    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == (0L until 60L).toSet -- Set(5L, 17L, 40L))
    // time travel to the pre-delete snapshot
    assert(IcebergLite.read(spark, t, Some(before.snapshotId)).count() == 60L)
    // deleting an already-dead row counts only the live one
    val st2 = IcebergLite.deleteRows(spark, t, Seq(5L, 6L).toDF("k"), Seq("k"))
    assert(st2.rowsDeleted == 1L)
    assert(IcebergLite.read(spark, t).count() == 56L)
  }

  test("positional delete FILE rows land sorted by (file_path, pos) — " +
    "the v2 spec's required order, now produced executor-side (r17: no " +
    "driver-side victim collect)") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 200L).map(k => (k, s"r$k")).toDF("k", "s").repartition(4))
    IcebergLite.deleteRows(spark, t,
      (0L until 200L by 3).toDF("k"), Seq("k"))
    val snap = IcebergLite.snapshot(spark, t)
    val delPath = snap.deletes.head.path
    val rows = spark.read
      .parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(t), delPath).toString)
      .select("file_path", "pos").as[(String, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == rows.sortBy(r => (r._1, r._2)),
      "delete-file rows must be spec-sorted by (file_path, pos)")
    // and the file spans more than one referenced data file, so the sort
    // is actually exercised across file_path boundaries
    assert(rows.map(_._1).distinct.size > 1)
  }

  test("positional deleteRows refuses past maxDeleteRows, table untouched") {
    val t = newTable()
    IcebergLite.commit(spark, t, (0L until 50L).toDF("k"))
    val v = IcebergLite.snapshot(spark, t).snapshotId
    val e = intercept[IllegalArgumentException] {
      IcebergLite.deleteRows(spark, t, (0L until 40L).toDF("k"), Seq("k"),
        maxDeleteRows = 8)
    }
    assert(e.getMessage.contains("selectiveMerge"))
    assert(IcebergLite.snapshot(spark, t).snapshotId == v)
    assert(IcebergLite.read(spark, t).count() == 50L)
  }

  test("equality deleteRows: O(batch) write, strict-ordering semantics — " +
    "a key re-inserted AFTER the delete survives it") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 20L).map(k => (k, s"v$k")).toDF("k", "s"))
    val st = IcebergLite.deleteRows(spark, t,
      Seq(3L, 9L).toDF("k"), Seq("k"), equality = true)
    assert(st.rowsDeleted == 2L, "matched-row accounting")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == (0L until 20L).toSet -- Set(3L, 9L))
    // re-insert key 3 in a LATER append: its data sequence number is
    // larger than the delete's, so the strict < rule keeps it
    IcebergLite.commit(spark, t, Seq((3L, "reborn")).toDF("k", "s"))
    val out = IcebergLite.read(spark, t)
      .filter(col("k") === 3L).select("s").as[String].collect().toSeq
    assert(out == Seq("reborn"),
      s"late insert must survive the earlier equality delete, got $out")
    assert(IcebergLite.read(spark, t).count() == 19L)
  }

  test("merge-on-read parity: positional delete ≡ copy-on-write rewrite " +
    "of the same table, row for row") {
    val src = (0L until 200L).map(k => (k, k % 7, s"p$k"))
      .toDF("id", "grp", "payload")
    val victims = Seq(8L, 64L, 125L, 199L).toDF("id")
    // merge-on-read
    val t1 = newTable()
    IcebergLite.commit(spark, t1, src.repartitionByRange(4, col("id")))
    IcebergLite.deleteRows(spark, t1, victims, Seq("id"))
    // copy-on-write (rewrite files without the rows, via selectiveMerge
    // of the surviving slice — here simply a fresh table minus victims)
    val t2 = newTable()
    IcebergLite.commit(spark, t2,
      src.join(broadcast(victims), Seq("id"), "left_anti")
        .repartitionByRange(4, col("id")))
    val a = IcebergLite.read(spark, t1).orderBy("id").collect().toSeq
    val b = IcebergLite.read(spark, t2).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("deletes compose with bounds-pruned reads and fold into " +
    "compaction; expired delete files are reaped") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 80L).map(k => (k, s"x$k")).toDF("k", "s")
        .repartitionByRange(4, col("k")))
    IcebergLite.deleteRows(spark, t, Seq(10L, 30L, 70L).toDF("k"), Seq("k"))
    // bounds pruning still skips files AND applies the masks
    val scan = IcebergLite.readWhere(spark, t, "k", 0L, 19L)
    assert(scan.filesSkipped > 0)
    assert(scan.df.select("k").as[Long].collect().toSet
      == (0L until 20L).toSet - 10L)
    // compaction reads THROUGH the masks and drops the delete manifest
    IcebergLite.optimizeCompact(spark, t, targetFiles = 1)
    val s = IcebergLite.snapshot(spark, t)
    assert(s.deletes.isEmpty, "compaction must fold deletes in")
    assert(IcebergLite.read(spark, t).count() == 77L)
    // expire history: the delete file (now unreferenced) is reaped
    val victims = IcebergLite.expireSnapshots(spark, t, retainSnapshots = 1)
    assert(victims.exists(_.contains("delete-")),
      s"expected the delete file among $victims")
    assert(IcebergLite.read(spark, t).count() == 77L)
  }

  test("purgeDeletes: only governed files rewrite (positional " +
    "references + equality-seq coverage), untouched files survive, and " +
    "reads are delete-free afterward") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 100L).map(k => (k, s"p$k")).toDF("k", "s")
        .repartitionByRange(4, col("k")))
    IcebergLite.deleteRows(spark, t, Seq(2L).toDF("k"), Seq("k"))
    // a LATER append is not governed by the earlier deletes
    IcebergLite.commit(spark, t, Seq((500L, "late")).toDF("k", "s"))
    val before = IcebergLite.snapshot(spark, t)
    val st = IcebergLite.purgeDeletes(spark, t)
    // positional delete referenced exactly one file; the late append and
    // the three clean ranged files stay untouched
    assert(st.filesRewritten == 1, s"got $st")
    val after = IcebergLite.snapshot(spark, t)
    assert(before.files.toSet.intersect(after.files.toSet).size
      == before.files.size - 1)
    assert(IcebergLite.read(spark, t).count() == 100L)
    // the carried delete manifest applies to nothing; a second purge
    // finds no governed files
    assert(IcebergLite.purgeDeletes(spark, t).filesRewritten == 0)
    // equality flavor: strict-seq coverage governs the pre-delete files
    val t2 = newTable()
    IcebergLite.commit(spark, t2,
      (0L until 40L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    IcebergLite.deleteRows(spark, t2, Seq(1L).toDF("k"), Seq("k"),
      equality = true)
    IcebergLite.commit(spark, t2, Seq((1000L, 0L)).toDF("k", "v"))
    val st2 = IcebergLite.purgeDeletes(spark, t2)
    assert(st2.filesRewritten == 2 && st2.filesUntouched == 1,
      s"equality governs the two pre-delete files only, got $st2")
    assert(IcebergLite.read(spark, t2).count() == 40L)
  }

  test("selectiveMerge on a table with live deletes folds the masks " +
    "into the rewritten files only") {
    val t = newTable()
    val src = (0L until 100L).map(k => (k, k.toDouble)).toDF("k", "v")
    IcebergLite.commit(spark, t, src.repartitionByRange(4, col("k")))
    IcebergLite.deleteRows(spark, t, Seq(2L, 98L).toDF("k"), Seq("k"))
    val updates = Seq((3L, 333.0)).toDF("k", "v")
    val ms = IcebergLite.selectiveMerge(spark, t, updates, Seq("k"))
    assert(ms.filesSkipped > 0)
    val out = IcebergLite.read(spark, t)
    assert(out.count() == 98L, "deleted rows must not resurrect")
    assert(out.filter(col("k") === 3L).select("v").as[Double].head() == 333.0)
    assert(out.filter(col("k") === 2L).count() == 0L)
  }

  test("position deletes match on the FULL file path — identical base " +
    "names in different directories never cross-apply") {
    import org.apache.spark.sql.types.{LongType, StructType}
    val dir = Files.createTempDirectory("graft_ice_samename").toString
    // two data files with the SAME base name in different dirs (foreign
    // partitioned layouts / converted tables mixing sources do this)
    def onePart(rows: Seq[Long], sub: String): String = {
      val stage = s"$dir/stage_$sub"
      rows.toDF("k").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dir/$sub/part-0.parquet")
      target.getParentFile.mkdirs()
      assert(part.renameTo(target))
      target.toString
    }
    val fa = onePart(0L until 10L, "a")
    val fb = onePart(10L until 20L, "b")
    val t = s"$dir/t"
    IcebergLite.addFilesCommit(spark, t,
      new StructType().add("k", LongType, nullable = true), Seq(fa, fb))
    assert(IcebergLite.read(spark, t).count() == 20L)
    // victims live only in a/part-0.parquet at positions 2 and 3; a
    // base-name match would ALSO mask positions 2/3 of b/part-0.parquet
    val st = IcebergLite.deleteRows(spark, t, Seq(2L, 3L).toDF("k"), Seq("k"))
    assert(st.rowsDeleted == 2L)
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == (0L until 20L).toSet -- Set(2L, 3L),
      "a delete keyed to a/part-0.parquet must not mask b/part-0.parquet")
  }

  test("equality delete manifest records the delete FILE's row count " +
    "(distinct keys), not the matched data-row count") {
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val t = newTable()
    IcebergLite.commit(spark, t,
      (Seq.fill(5)(7L) ++ Seq(1L, 2L)).toDF("k"))
    val st = IcebergLite.deleteRows(spark, t, Seq(7L).toDF("k"), Seq("k"),
      equality = true)
    assert(st.rowsDeleted == 5L, "stats count the data rows erased")
    val delManifest = new java.io.File(t, "metadata").listFiles()
      .find(_.getName.endsWith("-del.avro"))
      .getOrElse(fail("no delete manifest written"))
    val in = new java.io.FileInputStream(delManifest)
    val stream = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    try {
      val entry = stream.iterator().next()
      val dataFile = entry.get("data_file").asInstanceOf[GenericRecord]
      assert(dataFile.get("content").asInstanceOf[Int] == 2)
      assert(dataFile.get("record_count").asInstanceOf[Long] == 1L,
        "record_count is the delete file's own rows (1 distinct key), " +
          "not the 5 matched data rows")
    } finally stream.close()
  }

  test("v3 deletion vectors: deleteRowsV3 masks rows through Puffin DV " +
    "blobs, metadata moves to format-version 3, data files untouched, " +
    "time travel still sees the rows") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 60L).map(k => (k, s"r$k")).toDF("k", "s").repartition(2))
    val before = IcebergLite.snapshot(spark, t)
    val preId = before.snapshotId

    val st = IcebergLite.deleteRowsV3(spark, t,
      Seq(5L, 17L, 40L, 41L).toDF("k"), Seq("k"))
    assert(st.rowsDeleted == 4L)
    val after = IcebergLite.snapshot(spark, t)
    assert(after.files.toSet == before.files.toSet,
      "DV delete must not touch data files")
    val dvEntries = after.deletes.filter(_.contentOffset.isDefined)
    assert(dvEntries.nonEmpty &&
      dvEntries.forall(d => d.content == 1 && d.refDataFile.nonEmpty &&
        d.contentSize.exists(_ > 0)),
      s"DV entries must carry the placement triple: ${after.deletes}")
    assert(IcebergLite.metadata(spark, t).get("format-version").asInt() == 3)

    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet ==
      (0L until 60L).toSet -- Set(5L, 17L, 40L, 41L))
    assert(IcebergLite.read(spark, t, Some(preId)).count() == 60L,
      "time travel before the DV still sees the rows")
  }

  test("v3 DV on an already-DV'd file merges old and new (writers-must-" +
    "merge), and the Puffin footer inventories every blob") {
    import graft.sources.Puffin
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 40L).map(k => (k, s"r$k")).toDF("k", "s").coalesce(1))
    IcebergLite.deleteRowsV3(spark, t, Seq(3L).toDF("k"), Seq("k"))
    IcebergLite.deleteRowsV3(spark, t, Seq(9L, 11L).toDF("k"), Seq("k"))
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet ==
      (0L until 40L).toSet -- Set(3L, 9L, 11L))

    // footer inventory: the second Puffin file's blob carries the MERGED
    // cardinality (1 old + 2 new) and names the referenced data file
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val puffins = new java.io.File(t, "data").listFiles()
      .filter(_.getName.endsWith(".puffin")).sortBy(_.getName)
    assert(puffins.length == 2)
    val refs = Puffin.footer(f,
      new org.apache.hadoop.fs.Path(puffins.last.toString))
    assert(refs.size == 1 && refs.head.blobType == "deletion-vector-v1")
    assert(refs.head.properties("cardinality") == "3",
      s"merged DV must carry old ∪ new: ${refs.head.properties}")
    assert(refs.head.properties("referenced-data-file").nonEmpty)

    // GC safety: live Puffin files are REFERENCED (delete manifests
    // carry their path), so the orphan sweep must never reap them
    val orphans = IcebergLite.removeOrphanFiles(spark, t)
    assert(!orphans.exists(_.endsWith(".puffin")),
      s"live DV Puffin files are not orphans: $orphans")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet ==
      (0L until 40L).toSet -- Set(3L, 9L, 11L))
  }

  test("purgeDeletes folds v3 deletion vectors: only the DV-referenced " +
    "file rewrites, the Puffin path is never read as parquet, reads are " +
    "delete-free after") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 30L).map(k => (k, s"r$k")).toDF("k", "s").repartition(2))
    IcebergLite.deleteRowsV3(spark, t, Seq(4L, 8L).toDF("k"), Seq("k"))
    val st = IcebergLite.purgeDeletes(spark, t)
    assert(st.filesRewritten >= 1 && st.filesRewritten <= 2,
      s"only DV-referenced files rewrite: $st")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet ==
      (0L until 30L).toSet -- Set(4L, 8L))
  }

  test("v3 DV blob framing is CRC-guarded (a corrupted blob fails " +
    "loudly, never masks the wrong rows) and format-version 4 refuses") {
    import graft.sources.Puffin
    val bm = graft.sources.DeletionVectors.Bitmap64(Seq(1L, 5L, 9L))
    val blob = Puffin.dvBlob(bm.serialize())
    val back = graft.sources.DeletionVectors.Bitmap64.deserialize(
      Puffin.dvBitmap(blob))
    assert(Seq(1L, 5L, 9L).forall(back.contains) && !back.contains(2L))
    val corrupted = blob.clone(); corrupted(8) = (corrupted(8) ^ 0x7).toByte
    intercept[IllegalArgumentException](Puffin.dvBitmap(corrupted))

    val t = newTable()
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    // forge format-version 4: the reader must refuse loudly
    val metaPath = java.nio.file.Paths.get(t, "metadata", "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(metaPath))
    java.nio.file.Files.write(metaPath, txt.replace(
      "\"format-version\" : 2", "\"format-version\" : 4").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "metadata", ".v1.metadata.json.crc"))
    val e = intercept[IllegalArgumentException](IcebergLite.read(spark, t))
    assert(e.getMessage.contains("format-version 4"))
  }

  test("format-version ratchets: an append after deleteRowsV3 keeps the " +
    "table declared v3 (a v2 re-stamp would let conforming readers skip " +
    "the carried DVs and resurrect deleted rows)") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 30L).map(k => (k, s"r$k")).toDF("k", "s").coalesce(1))
    IcebergLite.deleteRowsV3(spark, t, Seq(7L, 9L).toDF("k"), Seq("k"))
    assert(IcebergLite.metadata(spark, t).get("format-version").asInt() == 3)
    // append on top of the DV snapshot: the carried DV manifests ride
    // into the new snapshot, so the declared version must stay 3
    IcebergLite.commit(spark, t,
      (100L until 105L).map(k => (k, s"r$k")).toDF("k", "s"))
    assert(IcebergLite.metadata(spark, t).get("format-version").asInt() == 3,
      "commit() must not downgrade a v3 table to v2")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet ==
      ((0L until 30L).toSet -- Set(7L, 9L)) ++ (100L until 105L).toSet,
      "DV masks must survive the append")
  }

  test("v2-style deleteRows refuses on a v3 table carrying deletion " +
    "vectors (position-delete parquet is spec-illegal there)") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 20L).map(k => (k, s"r$k")).toDF("k", "s").coalesce(1))
    IcebergLite.deleteRowsV3(spark, t, Seq(3L).toDF("k"), Seq("k"))
    val e = intercept[RuntimeException] {
      IcebergLite.deleteRows(spark, t, Seq(5L).toDF("k"), Seq("k"))
    }
    assert(e.getMessage.contains("deleteRowsV3"),
      s"refusal must direct to the v3 path: ${e.getMessage}")
    // the refusal left the table untouched and readable
    assert(IcebergLite.read(spark, t).count() == 19L)
  }

  test("Puffin.readBlob refuses a placement triple outside the file " +
    "(corrupt manifest → loud refusal, not NegativeArraySize/OOM)") {
    import graft.sources.Puffin
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_puffin_range")
    val p = new org.apache.hadoop.fs.Path(dir.toString, "x.puffin")
    val refs = Puffin.write(f, p, Seq((Puffin.dvBlob(
      graft.sources.DeletionVectors.Bitmap64(Seq(1L)).serialize()),
      Map.empty[String, String])))
    val fileLen = f.getFileStatus(p).getLen
    // sane read works
    assert(Puffin.readBlob(f, p, refs.head.offset, refs.head.length)
      .length == refs.head.length.toInt)
    // size past EOF, negative size, Int-overflow size, offset at EOF,
    // and a Long-overflowing offset+size all refuse
    for ((off, sz) <- Seq((refs.head.offset, fileLen + 1),
        (0L, -1L), (0L, Int.MaxValue.toLong + 1), (fileLen, 8L),
        (Long.MaxValue - 10, 100L))) {
      val e = intercept[IllegalArgumentException](
        Puffin.readBlob(f, p, off, sz))
      assert(e.getMessage.contains("corrupt manifest"), e.getMessage)
    }
  }

  /** Data-file scans and the LeftAnti joins of `df`'s executed plan,
    * after running it (AQE's final plan, query stages included).
    */
  private object Plans extends AdaptiveSparkPlanHelper {
    def scansAndAntiJoins(df: DataFrame): (Int, Boolean) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      (collect(plan) { case s: FileSourceScanExec => s }.size,
        find(plan)(_.simpleString(100).contains("LeftAnti")).isDefined)
    }
  }

  private def rowSet(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("one scan: position deletes at several sequence numbers and a v3 " +
    "fold read through ONE data scan and no LeftAnti join") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 80L).map(k => (k, s"r$k")).toDF("k", "s").repartition(4))
    IcebergLite.deleteRows(spark, t, Seq(3L, 44L).toDF("k"), Seq("k"))
    IcebergLite.commit(spark, t,
      (80L until 90L).map(k => (k, s"r$k")).toDF("k", "s"))
    IcebergLite.deleteRows(spark, t, Seq(5L, 85L).toDF("k"), Seq("k"))
    val want = ((0L until 90L).toSet -- Set(3L, 44L, 5L, 85L))
    val (scans, anti) = Plans.scansAndAntiJoins(IcebergLite.read(spark, t))
    assert(scans == 1 && !anti, s"scans=$scans antiJoin=$anti")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == want)
    IcebergLite.deleteRowsV3(spark, t, Seq(60L).toDF("k"), Seq("k"))
    val (scans3, anti3) = Plans.scansAndAntiJoins(IcebergLite.read(spark, t))
    assert(scans3 == 1 && !anti3, s"scans=$scans3 antiJoin=$anti3")
    assert(IcebergLite.read(spark, t).select("k").as[Long].collect().toSet
      == want - 60L)
  }

  test("rename then drop: pre-rename files align by field id over the " +
    "shared fields — unpartitioned with a position delete, and " +
    "bucket(4, id) through read and purgeDeletes") {
    for (transforms <- Seq(Nil, Seq("bucket(4, id)"))) {
      val t = newTable()
      IcebergLite.commit(spark, t,
        (0L until 10L).map(k => (k, k * 10, s"g${k % 3}"))
          .toDF("id", "n", "grp").repartition(2),
        partitionTransforms = transforms)
      IcebergLite.renameColumn(spark, t, "n", "amount")
      IcebergLite.dropColumn(spark, t, "grp")
      IcebergLite.commit(spark, t, Seq((100L, 1000L)).toDF("id", "amount"))
      IcebergLite.deleteRows(spark, t, Seq(4L).toDF("id"), Seq("id"))
      val want = (0L until 10L).filter(_ != 4L).map(k => (k, k * 10)).toSet +
        ((100L, 1000L))
      def got = IcebergLite.read(spark, t).select("id", "amount")
        .as[(Long, Long)].collect().toSet
      assert(IcebergLite.read(spark, t).schema.fieldNames.toSeq ==
        Seq("id", "amount"))
      assert(got == want, s"$transforms")
      IcebergLite.purgeDeletes(spark, t)
      assert(got == want, s"$transforms after purgeDeletes")
    }
  }

  test("deleteRowsV3 folds live v2 position deletes into its DVs: no v2 " +
    "position-delete file stays listed and the read is the pre-fold read") {
    val t = newTable()
    IcebergLite.commit(spark, t,
      (0L until 60L).map(k => (k, s"r$k")).toDF("k", "s").repartition(3))
    IcebergLite.deleteRows(spark, t, Seq(1L, 20L, 41L).toDF("k"), Seq("k"))
    IcebergLite.commit(spark, t, Seq((70L, "late")).toDF("k", "s"))
    IcebergLite.deleteRows(spark, t, Seq(2L, 70L).toDF("k"), Seq("k"))
    val preFold = IcebergLite.snapshot(spark, t).snapshotId
    val before = rowSet(IcebergLite.read(spark, t))
    IcebergLite.deleteRowsV3(spark, t, Seq(50L).toDF("k"), Seq("k"))
    val snap = IcebergLite.snapshot(spark, t)
    assert(snap.deletes.nonEmpty && snap.deletes.forall(d =>
      d.content != 1 || d.contentOffset.isDefined),
      s"only DVs may carry position deletes on v3: ${snap.deletes}")
    assert(IcebergLite.metadata(spark, t).get("format-version").asInt() == 3)
    assert(rowSet(IcebergLite.read(spark, t)) ==
      before.filterNot(_ == "[50,r50]"))
    // time travel still reads the v2 deletes; the change feed across the
    // fold is exactly the new victim
    assert(rowSet(IcebergLite.read(spark, t, Some(preFold))) == before)
    assert(IcebergLite.changes(spark, t, preFold, None, Seq("k"))
      .select("k", "_change_type").as[(Long, String)].collect().toSeq ==
      Seq((50L, "delete")))
  }

  // ------------------------------------------------ one-scan read property
  import IcebergDeleteSpec._

  private val keysGen = Gen.chooseNum(1, 6).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(0L, 29L)))
  private val opGen: Gen[HistOp] = Gen.frequency(
    4 -> keysGen.map(Append(_)), 4 -> keysGen.map(PosDelete(_)),
    1 -> keysGen.map(EqDelete(_)), 2 -> keysGen.map(DvDelete(_)))
  // every history evolves the spec once (mixed layouts); half rename
  private val historyGen: Gen[(Seq[HistOp], Int)] = for {
    n <- Gen.chooseNum(4, 9)
    ops <- Gen.listOfN(n, opGen)
    evolveAt <- Gen.chooseNum(0, n - 2)
    rename <- Gen.oneOf(Seq.empty[HistOp], Seq(Rename))
    renameAt <- Gen.chooseNum(0, n)
    from <- Gen.chooseNum(0, n)
  } yield {
    val withEvolve = ops.patch(evolveAt, Seq(Evolve), 0)
    (withEvolve.patch(renameAt, rename, 0), from)
  }

  test("property: the one-scan merge-on-read equals a plain-collection " +
    "model over random histories of appends, position deletes at several " +
    "sequence numbers, v3 DVs, equality deletes, a spec evolution and a " +
    "rename era — read, changes and optimizeCompact") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(0x1CEL))
    val p = Prop.forAllNoShrink(historyGen) { case (ops, fromAt) =>
      val t = newTable()
      var valueCol = "s"
      var v3 = false
      var step = 0
      // the model: the live (k, value) rows, a multiset
      var live = (0L until 30L).map(k => (k, s"v0_$k"))
      IcebergLite.commit(spark, t, live.toDF("k", "s").repartition(3))
      // (snapshot id, model rows, value column name) after every write
      val states = scala.collection.mutable.ArrayBuffer(
        (IcebergLite.snapshot(spark, t).snapshotId, live, valueCol))
      def deleteKeys(ks: Seq[Long]): Unit = live = live.filterNot(r => ks.contains(r._1))
      ops.foreach { op =>
        step += 1
        op match {
          case Append(ks) =>
            val rows = ks.map(k => (k, s"v${step}_$k"))
            IcebergLite.commit(spark, t, rows.toDF("k", valueCol))
            live = live ++ rows
          case PosDelete(ks) if !v3 =>
            IcebergLite.deleteRows(spark, t, ks.toDF("k"), Seq("k"))
            deleteKeys(ks)
          case EqDelete(ks) if !v3 =>
            IcebergLite.deleteRows(spark, t, ks.toDF("k"), Seq("k"),
              equality = true)
            deleteKeys(ks)
          case PosDelete(ks) => // v2 delete files are illegal on v3
            IcebergLite.deleteRowsV3(spark, t, ks.toDF("k"), Seq("k"))
            deleteKeys(ks)
          case EqDelete(ks) =>
            IcebergLite.deleteRowsV3(spark, t, ks.toDF("k"), Seq("k"))
            deleteKeys(ks)
          case DvDelete(ks) =>
            IcebergLite.deleteRowsV3(spark, t, ks.toDF("k"), Seq("k"))
            v3 = true
            deleteKeys(ks)
          case Evolve =>
            if (IcebergLite.partitionSpecFields(IcebergLite.metadata(spark, t))
                .isEmpty)
              IcebergLite.evolvePartitionSpec(spark, t, Seq("bucket(2, k)"))
          case Rename =>
            if (valueCol == "s") {
              IcebergLite.renameColumn(spark, t, "s", "w")
              valueCol = "w"
            }
        }
        // a rename or spec change is metadata-only: no new snapshot, and
        // a pinned read of the old one keeps that era's names
        if (op != Rename && op != Evolve)
          states += ((IcebergLite.snapshot(spark, t).snapshotId, live, valueCol))
      }
      def model(rows: Seq[(Long, String)], c: String): DataFrame =
        rows.toDF("k", c)
      val read = IcebergLite.read(spark, t)
      val readOk = rowSet(read) == rowSet(model(live, valueCol))
      // changes from a snapshot of the final schema era
      val (fromId, fromRows, _) = states.drop(fromAt)
        .find(_._3 == valueCol).getOrElse(states.last)
      val want = ChangeFeed.netDiff(model(live, valueCol),
        model(fromRows, valueCol), read.schema, Seq("k"), None)
      val changesOk = rowSet(IcebergLite.changes(spark, t, fromId, None,
        Seq("k"))) == rowSet(want)
      // one scan per partition layout, no LeftAnti join, when no
      // equality delete governs a live file and no rename era exists
      val snap = IcebergLite.snapshot(spark, t)
      val eqGoverns = snap.deletes.exists(d => d.content == 2 &&
        snap.detail.exists(_.seq < d.seq))
      val planOk = eqGoverns || valueCol != "s" || {
        val layouts = snap.detail.map(_.path.split("/").dropRight(1)
          .exists(_.contains("="))).distinct.size
        val (scans, anti) = Plans.scansAndAntiJoins(read)
        val ok = scans == layouts && !anti
        if (!ok) println(s"plan: $scans scans for $layouts layouts, " +
          s"antiJoin=$anti")
        ok
      }
      IcebergLite.optimizeCompact(spark, t, targetFiles = 2)
      val compactOk = rowSet(IcebergLite.read(spark, t)) ==
        rowSet(model(live, valueCol)) &&
        IcebergLite.snapshot(spark, t).deletes.isEmpty
      if (!(readOk && changesOk && compactOk)) println(s"history $ops " +
        s"from $fromAt: read=$readOk changes=$changesOk compact=$compactOk")
      Prop(readOk) :| "read" && Prop(changesOk) :| "changes" &&
        Prop(planOk) :| "plan" && Prop(compactOk) :| "optimizeCompact"
    }
    val r = SCTest.check(params, p)
    assert(r.passed, r.toString)
  }
}

object IcebergDeleteSpec {
  /** One step of a generated table history in the one-scan read property. */
  private sealed trait HistOp
  private final case class Append(keys: Seq[Long]) extends HistOp
  private final case class PosDelete(keys: Seq[Long]) extends HistOp
  private final case class EqDelete(keys: Seq[Long]) extends HistOp
  private final case class DvDelete(keys: Seq[Long]) extends HistOp
  private case object Evolve extends HistOp
  private case object Rename extends HistOp
}
