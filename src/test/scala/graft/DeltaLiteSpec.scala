package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.DeltaLite

class DeltaLiteSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_deltalite").toString + "/t"

  test("commit/read: overwrite removes prior files, append accumulates, " +
    "time travel resolves every version") {
    val t = newTable()
    val v0 = DeltaLite.commit(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v1 = DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    val v2 = DeltaLite.commit(spark, t,
      Seq((9L, "z")).toDF("k", "s"), overwrite = true)
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))

    def keys(v: Option[Long]) =
      DeltaLite.read(spark, t, v).select("k").as[Long].collect().toSet
    assert(keys(Some(0L)) == Set(1L, 2L))
    assert(keys(Some(1L)) == Set(1L, 2L, 3L))
    assert(keys(None) == Set(9L), "overwrite must hide removed files")
    // the removed data files still exist on disk — the LOG defines the
    // table, exactly the protocol's contract
    val s1 = DeltaLite.snapshot(spark, t, Some(1L))
    assert(s1.files.size == DeltaLite.read(spark, t, Some(1L))
      .inputFiles.length)
  }

  test("schema comes from metaData: an empty overwrite still reads with " +
    "the committed schema") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, 2.5)).toDF("id", "v"))
    DeltaLite.commit(spark, t,
      Seq.empty[(Long, Double)].toDF("id", "v"), overwrite = true)
    val out = DeltaLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(out.count() == 0)
  }

  test("checkpoint bootstraps the file list; JSON tail replays on top") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    val cpV = DeltaLite.checkpoint(spark, t)
    assert(cpV == 1L)
    // commits after the checkpoint replay as the JSON tail
    DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    val got = DeltaLite.read(spark, t).select("k").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
    // a time travel BEFORE the checkpoint must not use it
    assert(DeltaLite.read(spark, t, Some(0L))
      .select("k").as[Long].collect().toSet == Set(1L))
  }

  test("readAsOf resolves TIMESTAMP AS OF on a foreign-stamped log: " +
    "latest version at-or-before the bound, monotonic through missing " +
    "stamps, refused before the first commit") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    // forge foreign wall-clock stamps: v0@1000, v1 unstamped, v2@3000
    val dir = java.nio.file.Paths.get(t, "_delta_log")
    def restamp(v: Long, ts: Option[Long]): Unit = {
      val p = dir.resolve(f"$v%020d.json")
      val txt = new String(java.nio.file.Files.readAllBytes(p))
      val out = ts match {
        case Some(x) => txt.replace("\"timestamp\":0", s""""timestamp":$x""")
        case None => txt.linesIterator
          .filterNot(_.contains("commitInfo")).mkString("\n") + "\n"
      }
      java.nio.file.Files.write(p, out.getBytes)
      // the Hadoop local FS keeps checksum sidecars; a byte-level forge
      // must drop them or reads fail on the stale crc
      java.nio.file.Files.deleteIfExists(
        dir.resolve(f".$v%020d.json.crc"))
    }
    restamp(0L, Some(1000L)); restamp(1L, Some(2000L)); restamp(2L, None)
    def keys(ts: Long) =
      DeltaLite.readAsOf(spark, t, ts).select("k").as[Long].collect().toSet
    assert(keys(1000L) == Set(1L), "exact stamp resolves inclusively")
    assert(keys(1999L) == Set(1L))
    // v2 is unstamped and inherits v1's 2000 (monotonic): the latest
    // version at-or-before 2000 is therefore v2
    assert(keys(2000L) == Set(1L, 2L, 3L))
    assert(keys(Long.MaxValue) == Set(1L, 2L, 3L))
    val e = intercept[RuntimeException](DeltaLite.readAsOf(spark, t, 999L))
    assert(e.getMessage.contains("no version at or before"))
  }

  test("readAsOf on a zero-stamp log refuses loudly instead of " +
    "resolving every timestamp to the tip") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    // this writer stamps commitInfo timestamp 0 without ICT — any
    // ts >= 0 would silently resolve to the tip; the guard names the
    // precise instruments instead
    val e = intercept[IllegalArgumentException](
      DeltaLite.readAsOf(spark, t, 12345L))
    assert(e.getMessage.contains("no wall-clock commit stamps"))
  }

  test("reader refuses protocol versions it cannot honor") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    // forge a commit demanding reader v3 (deletion vectors era)
    val dir = new java.io.File(s"$t/_delta_log")
    val f = new java.io.File(dir, f"${1L}%020d.json")
    val w = new java.io.FileWriter(f)
    w.write("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""" + "\n")
    w.close()
    val e = intercept[IllegalArgumentException] {
      DeltaLite.read(spark, t)
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("history lists one row per commit with operation and file deltas") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((9L, "z")).toDF("k", "s"), overwrite = true)
    val h = DeltaLite.history(spark, t)
      .orderBy("version")
      .select("version", "operation", "n_added", "n_removed")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(h.map(_._1) == Seq(0L, 1L, 2L))
    assert(h.map(_._2) == Seq("WRITE", "WRITE", "OVERWRITE"))
    assert(h(2)._4 == h(0)._3 + h(1)._3, "overwrite must remove every prior file")
  }

  test("optimizeCompact: one commit shrinks the file count, data identical, " +
    "pre-OPTIMIZE version still time-travels; vacuum then reaps it") {
    val t = newTable()
    // many small files: one commit per row
    (1L to 5L).foreach(k => DeltaLite.commit(spark, t, Seq((k, s"v$k")).toDF("k", "s")))
    val before = DeltaLite.snapshot(spark, t).files
    assert(before.size == 5)
    val ov = DeltaLite.optimizeCompact(spark, t)
    assert(ov == 5L)
    val after = DeltaLite.snapshot(spark, t)
    assert(after.files.size == 1, "compaction must bin-pack to the target")
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      (1L to 5L).map(k => (k, s"v$k")).toSet)
    assert(DeltaLite.history(spark, t).filter(col("operation") === "OPTIMIZE")
      .count() == 1)
    // old files still on disk → time travel to v4 still reads
    assert(DeltaLite.read(spark, t, Some(4L)).count() == 5)
    // vacuum to the latest version: the 5 old files are unreferenced
    val reaped = DeltaLite.vacuum(spark, t, retainVersions = 1)
    assert(reaped.toSet == before.toSet)
    assert(DeltaLite.read(spark, t).count() == 5, "latest unaffected by vacuum")
  }

  test("streamingDeltaUpsert: CDC micro-batches MERGE into a Delta table " +
    "with one commit per batch and a time-travelable trail") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = newTable()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.streamingDeltaUpsert(
        mem.toDF().toDF("k", "v"), t, Seq("k"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", t + "_ckpt")
    mem.addData((1L, "a"), (2L, "b"))
    q.start().awaitTermination()
    mem.addData((2L, "B2"), (3L, "c"))
    q.start().awaitTermination()
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // batch 0's state is a pinned version; every commit is a MERGE
    val h = DeltaLite.history(spark, t)
      .select("version", "operation", "n_added", "n_removed")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h.size == 2 && h.forall(_._2 == "MERGE"))
    assert(DeltaLite.read(spark, t, Some(0L)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("add actions carry footer stats; selectiveMerge rewrites only " +
    "key-intersecting files and leaves the rest byte-identical") {
    val t = newTable()
    // 4 files with disjoint key ranges (range-clustered, the layout a
    // Z-ORDER/OPTIMIZE maintains)
    val base = spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k"))
    DeltaLite.commit(spark, t, base)
    val s0 = DeltaLite.snapshot(spark, t)
    assert(s0.files.size == 4)
    assert(s0.stats.size == 4, "every add must carry stats")
    // stats are real min/max of the file contents
    val statsOk = s0.files.forall { p =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s0.stats(p))
      n.get("numRecords").asLong() == 100 &&
        n.get("minValues").has("k") && n.get("maxValues").has("k")
    }
    assert(statsOk, s0.stats.values.headOption.getOrElse(""))

    // updates hit ONE file's range (keys 10..19) + one brand-new key
    val updates = (Seq.tabulate(10)(i => (10L + i, -1L)) :+ (9999L, -2L))
      .toDF("k", "v")
    val ms = DeltaLite.selectiveMerge(spark, t, updates, Seq("k"))
    assert(ms.filesRewritten == 1 && ms.filesSkipped == 3,
      s"expected 1 rewrite / 3 skips, got $ms")

    // untouched files survive IN the new snapshot (no data movement)
    val s1 = DeltaLite.snapshot(spark, t)
    val survivors = s0.files.toSet.intersect(s1.files.toSet)
    assert(survivors.size == 3)

    // semantics identical to a full mergeUpsert
    val got = DeltaLite.read(spark, t).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    val want = graft.operators.LakehouseOps
      .mergeUpsert(base.toDF("k", "v"), updates, Seq("k"))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == want)
    // history shows exactly one MERGE commit
    assert(DeltaLite.history(spark, t)
      .filter(col("operation") === "MERGE").count() == 1)
  }

  test("selectiveMerge rewrites conservatively when stats are absent") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // strip the stats from the committed log (a foreign writer's add)
    val logFile = java.nio.file.Paths.get(t, "_delta_log",
      "00000000000000000000.json")
    val txt = new String(java.nio.file.Files.readAllBytes(logFile))
    java.nio.file.Files.write(logFile,
      txt.replaceAll(""","stats":"(?:[^"\\]|\\.)*"""", "").getBytes)
    // the raw rewrite bypassed Hadoop's LocalFileSystem, so drop its now
    // stale checksum sidecar
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(t,
      "_delta_log", ".00000000000000000000.json.crc"))
    assert(DeltaLite.snapshot(spark, t).stats.isEmpty, "stats not stripped")
    val ms = DeltaLite.selectiveMerge(spark, t,
      Seq((99L, "z")).toDF("k", "s"), Seq("k"))
    assert(ms.filesRewritten >= 1 && ms.filesSkipped == 0)
    assert(DeltaLite.read(spark, t).count() == 3)
  }

  test("selectiveDelete erases keys rewriting only intersecting files; " +
    "time travel + vacuum complete the compliance story") {
    val t = newTable()
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")))
    val ms = DeltaLite.selectiveDelete(spark, t,
      spark.range(10, 20).select(col("id").as("k")), Seq("k"))
    assert(ms.filesRewritten == 1 && ms.filesSkipped == 3, s"got $ms")
    val after = DeltaLite.read(spark, t)
    assert(after.count() == 390)
    assert(after.filter(col("k").between(10, 19)).count() == 0)
    // deleted rows remain time-travelable until vacuum (the format's own
    // erasure caveat — a compliance delete is delete + vacuum)
    assert(DeltaLite.read(spark, t, Some(0L)).count() == 400)
    DeltaLite.vacuum(spark, t, retainVersions = 1)
    val e = intercept[Exception](DeltaLite.read(spark, t, Some(0L)).count())
    assert(e != null) // pre-delete file gone: history past horizon unreadable
    assert(DeltaLite.read(spark, t).count() == 390, "latest unaffected")
  }

  test("append schema evolution: additive columns update the schema and " +
    "old files read as null; drops/retypes are refused") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((2L, "b", 7L)).toDF("k", "s", "extra"))
    val out = DeltaLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("k", "s", "extra"))
    assert(out.filter(col("k") === 1).select("extra")
      .as[Option[Long]].head().isEmpty, "old rows must read null")
    assert(out.filter(col("k") === 2).select("extra").as[Long].head() == 7L)
    val e = intercept[IllegalArgumentException](
      DeltaLite.commit(spark, t, Seq(3L).toDF("k"))) // drops s, extra
    assert(e.getMessage.contains("additive"))
    // overwrite may replace the schema freely
    DeltaLite.commit(spark, t, Seq(9L).toDF("k"), overwrite = true)
    assert(DeltaLite.read(spark, t).schema.fieldNames.toSeq == Seq("k"))
  }

  test("streamingSelectiveUpsert: per-batch MERGE commits via data " +
    "skipping, same semantics as the full-rewrite stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = newTable()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.streamingSelectiveUpsert(
        mem.toDF().toDF("k", "v"), t, Seq("k"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", t + "_ckpt")
    mem.addData((1L, "a"), (2L, "b"), (50L, "x"))
    q.start().awaitTermination()
    mem.addData((2L, "B2"), (3L, "c"))
    q.start().awaitTermination()
    assert(DeltaLite.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (50L, "x")))
    val h = DeltaLite.history(spark, t)
      .select("version", "operation", "n_added", "n_removed")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h.size == 2 && h.forall(_._2 == "MERGE"))
  }

  test("readWhere prunes files on add-stats ranges and matches the " +
    "unpruned filter row for row") {
    val t = newTable()
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")))
    val scan = DeltaLite.readWhere(spark, t, "k", 110L, 180L)
    assert(scan.filesScanned == 1 && scan.filesSkipped == 3,
      s"expected 1 scanned / 3 skipped, got " +
        s"${scan.filesScanned}/${scan.filesSkipped}")
    val got = scan.df.orderBy("k").as[(Long, Long)].collect().toSeq
    val want = DeltaLite.read(spark, t).filter(col("k").between(110, 180))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == want && got.size == 71)
    // an out-of-range predicate scans NOTHING — pure metadata answer
    val empty = DeltaLite.readWhere(spark, t, "k", 5000L, 6000L)
    assert(empty.filesScanned == 0 && empty.df.count() == 0)
    // the residual predicate still reaches the pruned parquet scan
    val plan = scan.df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(k,110)"),
      "residual range filter lost scan pushdown")
    // a FLOAT bound widens from the float: 0.3f is 0.30000001192092896
    // to the residual filter, so a lower bound of 0.30000001 keeps it
    val tf = newTable()
    DeltaLite.commit(spark, tf, Seq(0.3f).toDF("f"))
    val fScan = DeltaLite.readWhere(spark, tf, "f", 0.30000001, 1.0)
    assert(fScan.filesScanned == 1 && fScan.filesSkipped == 0,
      s"float file mis-pruned: ${fScan.filesScanned}/${fScan.filesSkipped}")
    assert(fScan.df.count() == 1)
  }

  test("optimizeZorder re-clusters an interleaved table so stats pruning " +
    "bites again, data identical") {
    val t = newTable()
    // round-robin layout: every file spans the whole key range, so every
    // file intersects any key batch — skipping is useless
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(4))
    val before = DeltaLite.readWhere(spark, t, "k", 10L, 19L)
    assert(before.filesScanned == 4 && before.filesSkipped == 0,
      "interleaved layout should defeat pruning")
    val zv = DeltaLite.optimizeZorder(spark, t, Seq("k"), targetFiles = 4)
    assert(zv == 1L)
    val after = DeltaLite.readWhere(spark, t, "k", 10L, 19L)
    assert(after.filesScanned == 1 && after.filesSkipped == 3,
      s"z-ordered layout must skip: got " +
        s"${after.filesScanned}/${after.filesSkipped}")
    // data unchanged, selectiveMerge economics restored too
    assert(DeltaLite.read(spark, t).orderBy("k").as[(Long, Long)]
      .collect().toSeq ==
      spark.range(400).select(col("id"), col("id") * 10)
        .as[(Long, Long)].collect().toSeq.sortBy(_._1))
    val ms = DeltaLite.selectiveMerge(spark, t,
      Seq((10L, -1L)).toDF("k", "v"), Seq("k"))
    assert(ms.filesRewritten == 1 && ms.filesSkipped == 3, s"got $ms")
    assert(DeltaLite.history(spark, t)
      .filter(col("operation").startsWith("OPTIMIZE ZORDER")).count() == 1)
  }

  test("optimizeZorder on two columns: range reads skip files on EITHER " +
    "z-column — the locality a linear sort cannot give") {
    val t = newTable()
    // a 20×20 key grid, round-robin interleaved
    DeltaLite.commit(spark, t, spark.range(400)
      .select((col("id") % 20).as("k1"), expr("id div 20").as("k2"),
        col("id").as("v"))
      .repartition(4))
    assert(DeltaLite.readWhere(spark, t, "k2", 0L, 3L).filesSkipped == 0,
      "interleaved layout should defeat pruning")
    DeltaLite.optimizeZorder(spark, t, Seq("k1", "k2"), targetFiles = 4)
    val onK1 = DeltaLite.readWhere(spark, t, "k1", 0L, 3L)
    val onK2 = DeltaLite.readWhere(spark, t, "k2", 0L, 3L)
    assert(onK1.filesSkipped >= 1,
      s"no skip on leading z-column: ${onK1.filesScanned} scanned")
    assert(onK2.filesSkipped >= 1,
      s"no skip on second z-column: ${onK2.filesScanned} scanned")
    // both pruned reads stay value-exact
    assert(onK1.df.agg(sum("v")).head().getLong(0) ==
      (0L until 400L).filter(_ % 20 <= 3).sum)
    assert(onK2.df.agg(sum("v")).head().getLong(0) ==
      (0L until 400L).filter(_ / 20 <= 3).sum)
  }

  test("optimizeZorder auto-sizes the interleave from the data: keys far " +
    "past any fixed bit budget still cluster instead of wrapping") {
    val t = newTable()
    // max key ~6.5M (23 bits) — a fixed 12-bit mask would wrap every
    // value and leave all files spanning the whole range
    DeltaLite.commit(spark, t, spark.range(400)
      .select((col("id") * 16384L).as("k"), col("id").as("v"))
      .repartition(4))
    DeltaLite.optimizeZorder(spark, t, Seq("k"), targetFiles = 4)
    val scan = DeltaLite.readWhere(spark, t, "k", 0L, 99L * 16384L)
    assert(scan.filesSkipped >= 2,
      s"wide keys wrapped: ${scan.filesScanned} scanned")
    assert(scan.df.count() == 100)
    // a mistyped bound is refused, not silently compared lexicographically
    val e = intercept[IllegalArgumentException](
      DeltaLite.readWhere(spark, t, "k", "0", "99"))
    assert(e.getMessage.contains("must match the column type"))
  }

  test("changes: net row-level diff between versions reads only changed " +
    "files and classifies insert/update/delete") {
    val t = newTable()
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")))
    // one selectiveMerge: updates keys 10..14, inserts 1000..1002
    val batch = (Seq.tabulate(5)(i => (10L + i, -1L)) ++
      Seq.tabulate(3)(i => (1000L + i, -2L))).toDF("k", "v")
    DeltaLite.selectiveMerge(spark, t, batch, Seq("k"))
    // then a selectiveDelete of keys 20..24
    DeltaLite.selectiveDelete(spark, t,
      spark.range(20, 25).select(col("id").as("k")), Seq("k"))

    val cdc = DeltaLite.changes(spark, t, 0L, 2L, Seq("k"))
    val byType = cdc.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("update_preimage" -> 5L, "update_postimage" -> 5L,
      "insert" -> 3L, "delete" -> 5L), s"got $byType")
    val posts = cdc.filter(col("_change_type") === "update_postimage")
      .select("k", "v").as[(Long, Long)].collect().toSeq.sorted
    assert(posts == Seq.tabulate(5)(i => (10L + i, -1L)))
    val dels = cdc.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSeq.sorted
    assert(dels == Seq(20L, 21L, 22L, 23L, 24L))
    // the diff reads only the files that changed hands, never the table:
    // both snapshots hold 4+ files but only the rewritten ones are read
    val s0 = DeltaLite.snapshot(spark, t, Some(0L))
    val s2 = DeltaLite.snapshot(spark, t, Some(2L))
    val changedHands = (s2.files.toSet -- s0.files.toSet) ++
      (s0.files.toSet -- s2.files.toSet)
    val readFiles = cdc.inputFiles.map(f =>
      f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(readFiles.subsetOf(changedHands.map(p =>
      p.substring(p.lastIndexOf('/') + 1))),
      s"diff read untouched files: ${readFiles -- changedHands}")
    assert(s0.files.toSet.intersect(s2.files.toSet).nonEmpty,
      "test needs surviving files for the claim to mean anything")
    // an adjacent single-version window isolates just the delete
    val lastHop = DeltaLite.changes(spark, t, 1L, 2L, Seq("k"))
    assert(lastHop.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap == Map("delete" -> 5L))
  }

  test("shallowClone: zero-copy clone reads the pinned snapshot with " +
    "stats intact; writes diverge copy-on-write; vacuum stays in-root") {
    val t = newTable()
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")))
    val dst = newTable()
    DeltaLite.shallowClone(spark, t, dst)
    // identical reads, but NOT ONE data file under the clone root
    assert(DeltaLite.read(spark, dst).orderBy("k").as[(Long, Long)]
      .collect().toSeq ==
      DeltaLite.read(spark, t).orderBy("k").as[(Long, Long)]
        .collect().toSeq)
    val dstFiles = new java.io.File(dst).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dstFiles.isEmpty, "shallow clone must not copy data")
    // add-stats carried: skipping works on the clone from commit 0
    val scan = DeltaLite.readWhere(spark, dst, "k", 110L, 180L)
    assert(scan.filesScanned == 1 && scan.filesSkipped == 3, s"$scan")
    // copy-on-write divergence: merge on the clone, source untouched
    DeltaLite.selectiveMerge(spark, dst, Seq((10L, -1L)).toDF("k", "v"),
      Seq("k"))
    assert(DeltaLite.read(spark, dst).filter(col("k") === 10)
      .head().getLong(1) == -1L)
    assert(DeltaLite.read(spark, t).filter(col("k") === 10)
      .head().getLong(1) == 100L, "clone write leaked into the source")
    // the clone's vacuum reaps only under its own root
    DeltaLite.vacuum(spark, dst, retainVersions = 1)
    assert(DeltaLite.read(spark, t).count() == 400, "vacuum crossed roots")
    assert(DeltaLite.read(spark, dst).count() == 400)
  }

  test("restore: metadata-only rollback — old files re-referenced, no " +
    "data written, history keeps moving forward") {
    val t = newTable()
    DeltaLite.commit(spark, t, spark.range(400)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")))
    DeltaLite.selectiveDelete(spark, t,
      spark.range(10, 20).select(col("id").as("k")), Seq("k"))
    assert(DeltaLite.read(spark, t).count() == 390)
    def nDataFiles = new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = nDataFiles
    val rv = DeltaLite.restore(spark, t, 0L)
    assert(rv == 2L)
    assert(DeltaLite.read(spark, t).orderBy("k").as[(Long, Long)]
      .collect().toSeq == (0L until 400L).map(i => (i, i * 10)))
    assert(nDataFiles == before, "restore must not write data files")
    // the rollback is itself an auditable commit; the rolled-back state
    // is still time-travelable
    assert(DeltaLite.history(spark, t)
      .filter(col("operation") === "RESTORE").count() == 1)
    assert(DeltaLite.read(spark, t, Some(1L)).count() == 390)
    // restored stats still drive skipping
    val scan = DeltaLite.readWhere(spark, t, "k", 110L, 180L)
    assert(scan.filesSkipped >= 2, s"$scan")
  }

  test("snapshot scan keeps parquet pushdown on the resolved file list") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      spark.range(1000).select(col("id"), (col("id") % 7).as("m")))
    val q = DeltaLite.read(spark, t).filter(col("id") > 990)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,990)"),
      "explicit-file-list read lost scan pushdown")
    assert(q.count() == 9)
  }

  test("SetTransaction: txn actions replay into snapshot state, surface " +
    "in history, and a forged foreign txn wins by latest version") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"),
      txn = Some(("app-x", 7L)))
    assert(DeltaLite.lastTransaction(spark, t, "app-x").contains(7L))
    assert(DeltaLite.lastTransaction(spark, t, "ghost").isEmpty)
    val h = DeltaLite.history(spark, t)
      .filter(col("txn_app_id") === "app-x").collect()
    assert(h.length == 1 && h.head.getAs[Long]("txn_version") == 7L)
    // forge a foreign commit carrying only a newer txn for the same app
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${2L}%020d.json"),
      ("""{"commitInfo":{"operation":"STREAMING UPDATE","timestamp":1}}""" +
        "\n" +
        """{"txn":{"appId":"app-x","version":9,"lastUpdated":1}}""" +
        "\n").getBytes("UTF-8"))
    assert(DeltaLite.lastTransaction(spark, t, "app-x").contains(9L),
      "latest version per appId wins on replay")
    // a checkpoint must CARRY the SetTransaction watermark — losing it
    // would make an idempotent writer re-commit its last batch
    val cpV = DeltaLite.checkpoint(spark, t)
    (0L until cpV).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_delta_log", f".$v%020d.json.crc"))
    }
    assert(DeltaLite.lastTransaction(spark, t, "app-x").contains(9L),
      "checkpoint bootstrap must carry SetTransaction state")
  }

  test("changes() prefers a foreign cdc channel: _change_data rows ride " +
    "through verbatim (per-commit semantics), mixed ranges fall back") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // a real foreign CDF table always carries the property — the cdc
    // probe is gated on it
    DeltaLite.setTableProperty(spark, t, DeltaLite.CdfProperty, "true") // v1
    // forge a FOREIGN CDF commit: one new data file + the cdc file the
    // foreign engine materialized for it — consistent content
    def onePart(df: org.apache.spark.sql.DataFrame, target: String): Long = {
      val stage = Files.createTempDirectory("graft_cdc_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(t, target)
      dst.getParentFile.mkdirs()
      assert(part.renameTo(dst))
      dst.length()
    }
    val addSize = onePart(Seq((3L, "c")).toDF("k", "s"), "part-foreign-0.parquet")
    val cdcSize = onePart(
      Seq((3L, "c", "insert"), (99L, "zz", "delete"))
        .toDF("k", "s", "_change_type"),
      "_change_data/cdc-0.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${2L}%020d.json"),
      ("""{"commitInfo":{"operation":"WRITE","timestamp":1}}""" + "\n" +
        s"""{"add":{"path":"part-foreign-0.parquet","size":$addSize,"partitionValues":{},"modificationTime":1,"dataChange":true}}""" + "\n" +
        s"""{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":$cdcSize,"dataChange":false}}""" + "\n")
        .getBytes("UTF-8"))
    // the cdc file is NOT part of the data file set
    assert(DeltaLite.read(spark, t).select("k").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    // changes reads the exact channel — including the per-commit event
    // (99, delete) that a net file-diff could never produce
    val ch = DeltaLite.changes(spark, t, 1L, 2L, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(ch == Set((3L, "c", "insert"), (99L, "zz", "delete")),
      s"cdc channel must ride through verbatim, got $ch")
    // a range containing a cdc-less commit falls back to the file diff
    DeltaLite.commit(spark, t, Seq((4L, "d")).toDF("k", "s"))
    val mixed = DeltaLite.changes(spark, t, 1L, 3L, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(mixed == Set((3L, "c", "insert"), (4L, "d", "insert")),
      s"mixed range must use the net diff, got $mixed")
  }

  test("writer-protocol gate: unimplemented writer capabilities refuse " +
    "commits (reads unaffected); appendOnly tables refuse removals") {
    // foreign table demanding writer v4 (generated columns): WRITABLE
    // as of r14 — the version's semantics are enforced at commit time
    // (TableFeaturesSpec), so a v4 table with no generated columns in
    // its schema simply commits
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""" +
        "\n").getBytes("UTF-8"))
    assert(DeltaLite.read(spark, t).count() == 1L, "reads stay legal")
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    assert(DeltaLite.read(spark, t).count() == 2L,
      "legacy v3/4/6 tables are writable now their semantics enforce")

    // v7 table-features with an unknown writer feature
    val t2 = newTable()
    DeltaLite.commit(spark, t2, Seq((1L, "a")).toDF("k", "s"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t2, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV9"]}}""" +
        "\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](
      DeltaLite.commit(spark, t2, Seq((2L, "b")).toDF("k", "s")))
    assert(e2.getMessage.contains("icebergCompatV9"))

    // delta.appendOnly: appends land, removals refuse
    val t3 = newTable()
    DeltaLite.commit(spark, t3, (0L until 10L).toDF("k"))
    DeltaLite.setTableProperty(spark, t3, "delta.appendOnly", "true")
    DeltaLite.commit(spark, t3, Seq(10L).toDF("k"))
    assert(DeltaLite.read(spark, t3).count() == 11L)
    val e3 = intercept[IllegalArgumentException](
      DeltaLite.commit(spark, t3, Seq(99L).toDF("k"), overwrite = true))
    assert(e3.getMessage.contains("append-only"))
    val e4 = intercept[IllegalArgumentException](
      DeltaLite.selectiveDelete(spark, t3, Seq(3L).toDF("k"), Seq("k")))
    assert(e4.getMessage.contains("append-only"))
    assert(DeltaLite.read(spark, t3).count() == 11L, "table untouched")
  }

  test("metaData-only commits never re-emit (or downgrade) the " +
    "declared protocol; date-partitioned readWhere stays conservative") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    // forge a STRONGER foreign protocol (v7 + a feature we honor)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["changeDataFeed"]}}""" +
        "\n").getBytes("UTF-8"))
    val v = DeltaLite.setTableProperty(spark, t, "graft.flag", "1")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(!text.contains("\"protocol\""),
      "a metaData-only commit must not re-emit (downgrade) the protocol")
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.minWriterVersion == 7 &&
      snap.writerFeatures == Set("changeDataFeed"))
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))
    assert(DeltaLite.read(spark, t).count() == 2L)

    // date-partitioned readWhere: partition values live as hive-dir
    // strings — a non-integral domain must scan conservatively, never
    // crash in the decimal compare
    val t2 = newTable()
    val df = Seq(("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 3L))
      .toDF("ds", "v").select(to_date(col("ds")).as("dt"), col("v"))
    DeltaLite.commit(spark, t2, df, partitionBy = Seq("dt"))
    val scan = DeltaLite.readWhere(spark, t2, "dt",
      java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("2024-01-03"))
    assert(scan.filesSkipped == 0,
      "non-string/integral partition domains must not prune")
    assert(scan.df.select("v").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("PARTITIONED tables: hive layout write/read, partition-value " +
    "pruning, layout-preserving maintenance, clone + checkpoint carry") {
    val t = newTable()
    val df = (0L until 60L)
      .map(k => (k, (k % 3).toString, s"p$k"))
      .toDF("id", "bucket", "payload")
    DeltaLite.commit(spark, t, df, partitionBy = Seq("bucket"))
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.partitionColumns == Seq("bucket"))
    assert(snap.files.forall(_.contains("bucket=")),
      "data files must land under hive dirs")
    assert(snap.partitionValues.values.map(_("bucket")).toSet
      == Set("0", "1", "2"))

    // SET TBLPROPERTIES re-emits metaData — it must CARRY the partition
    // columns (dropping them would silently unpartition the table and
    // read every partition value as null)
    DeltaLite.setTableProperty(spark, t, "graft.test.flag", "1")
    assert(DeltaLite.snapshot(spark, t).partitionColumns == Seq("bucket"),
      "SET TBLPROPERTIES must preserve partitionColumns")

    // single-scan read re-attaches partition values to the right rows
    val out = DeltaLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "bucket", "payload"))
    assert(out.count() == 60L)
    assert(out.filter(col("id") === 4L).select("bucket").as[String].head()
      == "1")
    // Catalyst partition pruning reaches the scan
    val plan = DeltaLite.read(spark, t).filter(col("bucket") === "2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"partitioned read lost PartitionFilters pruning:\n$plan")
    // readWhere prunes on the LOG's partitionValues (hive data files
    // carry no stats for the partition column)
    val scan = DeltaLite.readWhere(spark, t, "bucket", "0", "0")
    assert(scan.filesSkipped > 0 && scan.df.count() == 20L, s"$scan")

    // appends keep the layout; changing it without overwrite refuses
    DeltaLite.commit(spark, t, Seq((100L, "1", "x")).toDF("id", "bucket", "payload"))
    assert(DeltaLite.read(spark, t).count() == 61L)
    val e = intercept[IllegalArgumentException](
      DeltaLite.commit(spark, t, df, partitionBy = Seq("payload")))
    assert(e.getMessage.contains("partition layout"))

    // a delete keyed on the PARTITION column prunes whole partitions on
    // the log's partitionValues (hive files carry no stats for it)
    val pdel = DeltaLite.selectiveDelete(spark, t,
      Seq("0").toDF("bucket"), Seq("bucket"))
    assert(pdel.filesSkipped > 0,
      s"partition-value prune must skip other partitions: $pdel")
    assert(DeltaLite.read(spark, t).count() == 41L,
      "bucket=0 rows (20 of them) must be gone")

    // OPTIMIZE keeps the layout
    DeltaLite.optimizeCompact(spark, t, 1)
    val snap2 = DeltaLite.snapshot(spark, t)
    assert(snap2.partitionColumns == Seq("bucket") &&
      snap2.files.forall(_.contains("bucket=")))
    assert(DeltaLite.read(spark, t).count() == 41L)

    // shallowClone: absolute-path re-reference exercises the
    // literal-attach read path (non-hive-relative)
    val t2 = newTable()
    DeltaLite.shallowClone(spark, t, t2)
    val cloned = DeltaLite.read(spark, t2)
    assert(cloned.count() == 41L)
    assert(cloned.filter(col("id") === 4L).select("bucket").as[String]
      .head() == "1")

    // checkpoint carries partitionColumns + partitionValues: bootstrap
    // from the checkpoint alone loses nothing
    val cpV = DeltaLite.checkpoint(spark, t)
    (0L until cpV).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_delta_log", f".$v%020d.json.crc"))
    }
    val boot = DeltaLite.snapshot(spark, t)
    assert(boot.partitionColumns == Seq("bucket"))
    assert(DeltaLite.read(spark, t).count() == 41L)

    // copy-on-write delete preserves the layout; vacuum reaps the
    // superseded partitioned files by RELATIVE path
    DeltaLite.selectiveDelete(spark, t, Seq(100L).toDF("id"), Seq("id"))
    assert(DeltaLite.read(spark, t).count() == 40L)
    val reaped = DeltaLite.vacuum(spark, t, 1)
    assert(reaped.exists(_.contains("bucket=")),
      s"vacuum must reap superseded partitioned files, got $reaped")
    assert(DeltaLite.read(spark, t).count() == 40L)

    // deletion vectors refuse the partitioned layout, remedy named
    val edv = intercept[IllegalArgumentException](
      DeltaLite.deleteVectors(spark, t, Seq(1L).toDF("id"), Seq("id")))
    assert(edv.getMessage.contains("selectiveDelete"))
  }

  test("change data feed WRITE: an enabled table materializes " +
    "_change_data on merge/delete and changes() consumes the channel") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      (0L until 10L).map(k => (k, "base")).toDF("k", "s")
        .repartitionByRange(2, col("k")))
    DeltaLite.setTableProperty(spark, t, DeltaLite.CdfProperty, "true") // v1
    // merge: one update + one insert → v2 writes the cdc channel
    DeltaLite.selectiveMerge(spark, t,
      Seq((2L, "upd"), (100L, "new")).toDF("k", "s"), Seq("k"))
    val cdcDir = new java.io.File(t, "_change_data")
    assert(cdcDir.isDirectory && cdcDir.listFiles().nonEmpty,
      "CDF-enabled merge must write _change_data files")
    val ch = DeltaLite.changes(spark, t, 1L, 2L, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(ch == Set((2L, "base", "update_preimage"),
      (2L, "upd", "update_postimage"), (100L, "new", "insert")),
      s"cdc channel content off: $ch")
    // delete → v3 records the erased rows as delete events
    DeltaLite.selectiveDelete(spark, t, Seq(3L).toDF("k"), Seq("k"))
    val del = DeltaLite.changes(spark, t, 2L, 3L, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(del == Set((3L, "base", "delete")), s"$del")
    // a range crossing the cdc-less property commit falls back to the
    // net diff and still nets out correctly
    val net = DeltaLite.changes(spark, t, 0L, 3L, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(net == Set((2L, "base", "update_preimage"),
      (2L, "upd", "update_postimage"), (100L, "new", "insert"),
      (3L, "base", "delete")), s"$net")
    // table state is unaffected by the channel
    assert(DeltaLite.read(spark, t).count() == 10L)
  }

  test("RENAME/DROP COLUMN on a mapped table: metadata-only, data " +
    "survives, stats keep pruning, dropped values never resurrect") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      (0L until 40L).map(k => (k, s"p$k")).toDF("id", "payload")
        .repartitionByRange(4, col("id")),
      columnMapping = true)
    val files0 = DeltaLite.snapshot(spark, t).files.toSet

    DeltaLite.renameColumn(spark, t, "payload", "body")
    assert(DeltaLite.snapshot(spark, t).files.toSet == files0,
      "rename must be metadata-only")
    val out = DeltaLite.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "body"))
    assert(out.filter(col("id") === 3L).select("body").as[String].head()
      == "p3", "old files read under the new logical name")
    // add-stats are keyed by PHYSICAL name — pruning survives the rename
    val scan = DeltaLite.readWhere(spark, t, "id", 0L, 5L)
    assert(scan.filesSkipped > 0, s"$scan")
    // appends use the new name
    DeltaLite.commit(spark, t, Seq((100L, "x")).toDF("id", "body"))
    assert(DeltaLite.read(spark, t).count() == 41L)

    DeltaLite.dropColumn(spark, t, "body")
    assert(DeltaLite.read(spark, t).schema.fieldNames.toSeq == Seq("id"))
    // re-adding the same logical name gets a FRESH physical column —
    // the dropped values must not resurrect
    DeltaLite.commit(spark, t, Seq((200L, "fresh")).toDF("id", "body"))
    val re = DeltaLite.read(spark, t)
    assert(re.filter(col("id") === 3L).select("body").head().isNullAt(0),
      "dropped values resurrected under the re-added column")
    assert(re.filter(col("id") === 200L).select("body").as[String].head()
      == "fresh")

    // refused on an unmapped table, remedy named
    val t2 = newTable()
    DeltaLite.commit(spark, t2, Seq((1L, "a")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException](
      DeltaLite.renameColumn(spark, t2, "s", "z"))
    assert(e.getMessage.contains("column mapping"))
  }

  test("columnMapping upgrade on a v7 features table unions the feature " +
    "lists instead of downgrading to the legacy (2,5) protocol") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    // a foreign writer upgraded the table to v7 table features
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["changeDataFeed"]}}""" +
        "\n").getBytes("UTF-8"))
    // overwrite turning on column mapping: the emitted protocol must
    // UNION the declared features with columnMapping, not replace them
    DeltaLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"),
      overwrite = true, columnMapping = true)
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.minWriterVersion == 7,
      s"v7 must survive the upgrade, got ${snap.minWriterVersion}")
    assert(snap.writerFeatures == Set("changeDataFeed", "columnMapping"),
      s"feature lists must union, got ${snap.writerFeatures}")
    assert(snap.readerFeatures.contains("columnMapping"),
      s"columnMapping is a reader feature too, got ${snap.readerFeatures}")
    assert(DeltaLite.read(spark, t).select("k").as[Long].collect().toSeq
      == Seq(2L))
  }

  test("RENAME/DROP COLUMN respect the writer-protocol gate") {
    val t = newTable()
    DeltaLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))
    // a v7 table demanding a feature this writer does not implement
    // must refuse metadata-only commits too — a drop could orphan state
    // the unknown feature owns. (Legacy v3/4/6 are now WRITABLE: their
    // constraints/generated/identity semantics are enforced, see
    // TableFeaturesSpec.)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"UPGRADE","timestamp":1}}""" + "\n" +
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV2"]}}""" +
        "\n").getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](
      DeltaLite.renameColumn(spark, t, "s", "z"))
    assert(e1.getMessage.contains("icebergCompatV2"))
    val e2 = intercept[IllegalArgumentException](
      DeltaLite.dropColumn(spark, t, "s"))
    assert(e2.getMessage.contains("icebergCompatV2"))
  }

  test("vacuum reaps _change_data files outside the retention horizon " +
    "and keeps the retained versions' cdc channel") {
    val t = newTable()
    DeltaLite.commit(spark, t,
      (0L until 10L).map(k => (k, "base")).toDF("k", "s")
        .repartitionByRange(2, col("k")))                       // v0
    DeltaLite.setTableProperty(spark, t, DeltaLite.CdfProperty, "true") // v1
    DeltaLite.selectiveMerge(spark, t,
      Seq((2L, "u1")).toDF("k", "s"), Seq("k"))                 // v2 + cdc
    DeltaLite.selectiveMerge(spark, t,
      Seq((3L, "u2")).toDF("k", "s"), Seq("k"))                 // v3 + cdc
    // table properties persist through schema-evolving metaData
    // re-emissions — a merge must not silently reset the CDF flag
    assert(DeltaLite.snapshot(spark, t).configuration
      .get(DeltaLite.CdfProperty).contains("true"),
      "configuration must survive the merges")
    val cdcDir = new java.io.File(t, "_change_data")
    assert(cdcDir.isDirectory && cdcDir.listFiles().nonEmpty)
    val v2Cdc = cdcDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("cdc-00002") && n.endsWith(".parquet"))
    val v3Cdc = cdcDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("cdc-00003") && n.endsWith(".parquet"))
    assert(v2Cdc.nonEmpty && v3Cdc.nonEmpty, "both merges must write cdc")
    // retain only the tip: v2's cdc files serve no retained range
    val reaped = DeltaLite.vacuum(spark, t, retainVersions = 1)
    val after = cdcDir.listFiles().map(_.getName).toSet
    assert(v2Cdc.forall(n => reaped.contains(s"_change_data/$n")),
      s"v2 cdc must be reaped, got $reaped")
    assert(v3Cdc.forall(after.contains),
      s"the retained version's cdc must survive, left $after")
    // the table itself is untouched
    assert(DeltaLite.read(spark, t).count() == 10L)
  }

  test("delta.checkpointInterval auto-checkpoints every n-th data " +
    "commit; replay bootstraps from it after log cleanup") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_autockpt")
      .toString + "/t"
    DeltaLite.commit(spark, t, Seq((0L, "seed")).toDF("k", "s")) // v0
    DeltaLite.setTableProperty(spark, t, "delta.checkpointInterval", "3") // v1
    (2L to 7L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v2..v7
    val logDir = new java.io.File(t, "_delta_log")
    val cps = logDir.listFiles().map(_.getName)
      .filter(_.contains(".checkpoint")).sorted.toSeq
    assert(cps.exists(_.startsWith(f"${3L}%020d")) &&
      cps.exists(_.startsWith(f"${6L}%020d")),
      s"v3 and v6 must have auto-checkpointed, got $cps")
    // the checkpoint is a real bootstrap: clean the log below it and read
    DeltaLite.cleanupLogs(spark, t)
    assert(DeltaLite.read(spark, t).count() == 7L)
  }
}
