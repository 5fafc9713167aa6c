package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLite, IcebergLite}

/** Log/metadata RETENTION — the lifecycle verbs without which a busy
  * table's metadata grows forever: `DeltaLite.cleanupLogs` (JSON
  * commits + superseded checkpoints + orphaned v2 sidecars) and
  * `IcebergLite.cleanupMetadata` (old vN.metadata.json files), plus
  * Iceberg TIMESTAMP AS OF resolution over the snapshot-log.
  */
class LogLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def logNames(t: String): Set[String] =
    new java.io.File(t, "_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet

  test("cleanupLogs: commits below checkpoint+retention go; reads and " +
    "the retained tail survive; time travel below the cutoff refuses") {
    val t = newTable("graft_logclean")
    (0L until 3L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v0..v2
    DeltaLite.checkpoint(spark, t)                                 // cp@2
    (3L until 5L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v3..v4

    // retention window [v3, v4]; checkpoint@2 → cutoff 2: v0, v1 go
    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 2)
    assert(gone.toSet == Set(f"${0L}%020d.json", f"${1L}%020d.json"),
      s"got $gone")
    assert(DeltaLite.read(spark, t).count() == 5L,
      "the current state must resolve from checkpoint + tail")
    assert(DeltaLite.read(spark, t, Some(3L)).count() == 4L,
      "retained versions above the checkpoint still time-travel")
    intercept[IllegalArgumentException](
      DeltaLite.read(spark, t, Some(0L)))

    // without any checkpoint nothing is deletable
    val t2 = newTable("graft_logclean2")
    DeltaLite.commit(spark, t2, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.commit(spark, t2, Seq((2L, "b")).toDF("k", "s"))
    assert(DeltaLite.cleanupLogs(spark, t2, retainVersions = 1).isEmpty,
      "no checkpoint → nothing can bootstrap → keep every commit")
  }

  test("cleanupLogs with ONLY a tip checkpoint above the floor is a " +
    "no-op on commits: retained versions below the tip must not lose " +
    "their replay prefix (round-15 advice repro)") {
    val t = newTable("graft_logclean_tip")
    (0L until 5L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v0..v4
    DeltaLite.checkpoint(spark, t)                                 // cp@4 (tip)
    // retention window [v2, v4]; the only checkpoint sits ABOVE the
    // floor → no commit may go, or read(v3) silently drops rows
    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 3)
    assert(!gone.exists(_.endsWith(".json") ), s"no commit may go: $gone")
    assert(DeltaLite.read(spark, t, Some(3L)).count() == 4L,
      "v3 must replay its full v0-prefix, not a truncated one")
    assert(DeltaLite.read(spark, t, Some(2L)).count() == 3L)
    assert(DeltaLite.read(spark, t).count() == 5L)
  }

  test("cleanupLogs keeps the floor's bootstrap checkpoint below the " +
    "tip one, and sub-tip reads discover it from the listing") {
    val t = newTable("graft_logclean_boot")
    (0L until 2L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v0, v1
    DeltaLite.checkpoint(spark, t)                                 // cp@1
    (2L until 5L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v2..v4
    DeltaLite.checkpoint(spark, t)                                 // cp@4 (tip)
    // retention window [v2, v4]; bootstrap for the floor is cp@1 →
    // only v0's commit is deletable, and cp@1 must SURVIVE even
    // though a newer checkpoint supersedes it for the tip
    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 3)
    assert(gone.filter(_.endsWith(".json")).toSet ==
      Set(f"${0L}%020d.json"), s"got $gone")
    assert(!gone.exists(_.startsWith(f"${1L}%020d.checkpoint")),
      s"the floor's bootstrap checkpoint must survive: $gone")
    // _last_checkpoint points at cp@4; v2/v3 bootstrap from cp@1
    assert(DeltaLite.read(spark, t, Some(2L)).count() == 3L)
    assert(DeltaLite.read(spark, t, Some(3L)).count() == 4L)
    assert(DeltaLite.read(spark, t).count() == 5L)
    intercept[IllegalArgumentException](
      DeltaLite.read(spark, t, Some(0L)))
  }

  test("cleanupLogs never touches files ABOVE the newest complete " +
    "checkpoint: an in-flight writer's partial multi-part checkpoint " +
    "survives the sweep") {
    val t = newTable("graft_logclean_inflight")
    (0L until 3L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v0..v2
    DeltaLite.checkpoint(spark, t)                                 // cp@2
    DeltaLite.commit(spark, t, Seq((3L, "r3")).toDF("k", "s"))     // v3
    // a concurrent writer has landed part 1 of 2 at v3 — incomplete,
    // so it is not a bootstrap candidate, and it must NOT be deleted
    val partial = f"${3L}%020d.checkpoint.${1}%010d.${2}%010d.parquet"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", partial), Array[Byte](1))
    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 1)
    assert(!gone.contains(partial),
      s"the in-flight checkpoint part must survive: $gone")
    assert(new java.io.File(s"$t/_delta_log", partial).exists())
    assert(DeltaLite.read(spark, t).count() == 4L)
  }

  test("a STALE _last_checkpoint self-heals: reads bootstrap from the " +
    "newest complete checkpoint in the listing even after cleanup " +
    "reaped the pointed-at files") {
    val t = newTable("graft_logclean_stale")
    (0L until 2L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v0, v1
    DeltaLite.checkpoint(spark, t)                                 // cp@1
    val ptr = java.nio.file.Paths.get(t, "_delta_log", "_last_checkpoint")
    val stale = java.nio.file.Files.readAllBytes(ptr)
    (2L until 5L).foreach(v =>
      DeltaLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s"))) // v2..v4
    DeltaLite.checkpoint(spark, t)                                 // cp@4
    // crash-between-write-and-pointer-update shape: the pointer still
    // names cp@1 while cp@4 is the newest complete checkpoint
    java.nio.file.Files.write(ptr, stale)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_delta_log", "._last_checkpoint.crc"))
    // cleanup reaps cp@1's files (bootCp = newestCp = 4) — the stale
    // pointer now dangles
    DeltaLite.cleanupLogs(spark, t, retainVersions = 1)
    assert(DeltaLite.read(spark, t).count() == 5L,
      "discovery must bootstrap from cp@4, not crash on the dangling hint")
  }

  test("cleanupLogs never deletes an UNREFERENCED sidecar (it may be a " +
    "concurrent checkpointV2's about-to-publish state, written before " +
    "the top-level that references it)") {
    val t = newTable("graft_logclean_sidecar")
    DeltaLite.commit(spark, t,
      (0L until 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    DeltaLite.checkpointV2(spark, t)
    // in-flight writer: sidecar landed, top-level not yet published
    val inflight = java.nio.file.Paths.get(t, "_delta_log", "_sidecars",
      "inflight-uuid-0001.parquet")
    java.nio.file.Files.write(inflight, Array[Byte](1))
    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 1)
    assert(!gone.exists(_.contains("inflight-uuid")),
      s"unreferenced sidecar must survive the sweep: $gone")
    assert(java.nio.file.Files.exists(inflight))
    assert(DeltaLite.read(spark, t).count() == 10L)
  }

  test("cleanupLogs on a v2Checkpoint table: the superseded top-level " +
    "and ITS sidecar go, the newest checkpoint's sidecar survives") {
    val t = newTable("graft_logclean_v2")
    DeltaLite.commit(spark, t, (0L until 10L).map(k => (k, s"r$k"))
      .toDF("k", "s").repartitionByRange(2, col("k")))            // v0
    DeltaLite.checkpointV2(spark, t)                              // v1 + cp
    DeltaLite.commit(spark, t, Seq((100L, "x")).toDF("k", "s"))   // v2
    DeltaLite.checkpoint(spark, t)                                // v2 cp (v2-flavor)
    val sidecarsBefore = new java.io.File(t, "_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(sidecarsBefore.size == 2)

    val gone = DeltaLite.cleanupLogs(spark, t, retainVersions = 1)
    assert(gone.exists(_.matches("0{19}1\\.checkpoint\\..*\\.parquet")),
      s"the superseded v2 top-level must go: $gone")
    assert(gone.count(_.startsWith("_sidecars/")) == 1,
      s"exactly the orphaned sidecar must go: $gone")
    val sidecarsAfter = new java.io.File(t, "_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(sidecarsAfter.size == 1)
    // the table still bootstraps entirely from the surviving checkpoint
    assert(DeltaLite.read(spark, t).count() == 11L)
    assert(logNames(t).count(_.endsWith(".json")) >= 1,
      "_last_checkpoint + the tip commit remain")
  }

  test("iceberg cleanupMetadata: old metadata versions go; snapshot " +
    "time travel and the current read ride the surviving metadata") {
    val t = newTable("graft_metaclean")
    (0L until 4L).foreach(v =>
      IcebergLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s")))
    val before = IcebergLite.versions(spark, t)
    assert(before.size == 4)
    val gone = IcebergLite.cleanupMetadata(spark, t, retainVersions = 1)
    assert(gone.size == 3, s"got $gone")
    assert(IcebergLite.versions(spark, t).size == 1)
    assert(IcebergLite.read(spark, t).count() == 4L)
    // snapshot time travel needs only the CURRENT metadata's snapshots
    assert(IcebergLite.read(spark, t, Some(1L)).count() == 2L)
  }

  test("iceberg readAsOf: snapshot-log timestamps resolve TIMESTAMP AS " +
    "OF; before-table-history refuses naming the earliest") {
    val t = newTable("graft_iasof")
    (0L until 3L).foreach(v =>
      IcebergLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s")))
    // stamp foreign wall-clock times into the snapshot-log
    val metaPath = Paths.get(t, "metadata", "v3.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readAllBytes(metaPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val log = node.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshot-log")
    (0 until log.size()).foreach(i =>
      log.get(i).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("timestamp-ms", 100L * (i + 1)))
    Files.write(metaPath, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    // the original was written through Hadoop's checksummed local fs —
    // drop the stale .crc or the re-read fails its checksum
    Files.deleteIfExists(Paths.get(t, "metadata", ".v3.metadata.json.crc"))

    assert(IcebergLite.readAsOf(spark, t, 250L).count() == 2L,
      "ts=250 resolves the second snapshot")
    assert(IcebergLite.readAsOf(spark, t, 300L).count() == 3L)
    val e = intercept[IllegalArgumentException](
      IcebergLite.readAsOf(spark, t, 50L))
    assert(e.getMessage.contains("earliest"))
  }

  test("iceberg auto metadata cleanup: delete-after-commit prunes " +
    "metadata JSONs beyond previous-versions-max on every commit; " +
    "reads and time travel over the CURRENT metadata survive") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_autoclean")
      .toString + "/t"
    IcebergLite.commit(spark, t, Seq((0L, "seed")).toDF("k", "s"))
    IcebergLite.setProperty(spark, t,
      "write.metadata.delete-after-commit.enabled", "true")
    IcebergLite.setProperty(spark, t,
      "write.metadata.previous-versions-max", "2")
    (1L to 6L).foreach(v =>
      IcebergLite.commit(spark, t, Seq((v, s"r$v")).toDF("k", "s")))
    val metaJsons = new java.io.File(t, "metadata").listFiles()
      .map(_.getName).filter(_.endsWith(".metadata.json")).sorted.toSeq
    assert(metaJsons.size == 3,
      s"only current + 2 previous metadata versions may remain: $metaJsons")
    assert(IcebergLite.read(spark, t).count() == 7L)
    // every snapshot still time-travels — the CURRENT metadata carries
    // the whole snapshots array
    val snaps = IcebergLite.history(spark, t).count()
    assert(snaps == 7L, s"all snapshots must survive cleanup, got $snaps")
  }

  test("iceberg auto metadata cleanup runs on deleteRows commits too") {
    val t = newTable("graft_autoclean_del")
    IcebergLite.commit(spark, t,
      (0L until 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    IcebergLite.setProperty(spark, t,
      "write.metadata.delete-after-commit.enabled", "true")
    IcebergLite.setProperty(spark, t,
      "write.metadata.previous-versions-max", "2")
    (0L until 5L).foreach(k =>
      IcebergLite.deleteRows(spark, t, Seq(k).toDF("k"), Seq("k")))
    val vs = IcebergLite.versions(spark, t)
    assert(vs == Seq(6, 7, 8),
      s"only current + 2 previous metadata versions may remain: $vs")
    assert(IcebergLite.read(spark, t).count() == 5L)
  }
}
