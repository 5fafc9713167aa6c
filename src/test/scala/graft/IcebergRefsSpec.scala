package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.IcebergLite

/** Branch/tag REFS (the spec's `refs` map) + table-property carriage +
  * the orphan-file sweep: branches advance independently of main via
  * `commitToBranch` (the write-audit-publish staging shape), tags are
  * immutable audit pins protected from expireSnapshots, `fastForward`
  * is the metadata-only publish leg, and `removeOrphanFiles` reaps the
  * debris no snapshot references.
  */
class IcebergRefsSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("WAP: branch commits leave main untouched, readRef sees the " +
    "branch head, fastForward publishes, main ref stays in sync") {
    val t = newTable("graft_refs_wap")
    IcebergLite.commit(spark, t, Seq((1L, "base")).toDF("k", "s")) // s0
    IcebergLite.createBranch(spark, t, "audit")
    IcebergLite.commitToBranch(spark, t, "audit",
      Seq((2L, "b1")).toDF("k", "s"))                              // s1
    IcebergLite.commitToBranch(spark, t, "audit",
      Seq((3L, "b2")).toDF("k", "s"))                              // s2

    // main is untouched: data AND the time-travel log
    assert(IcebergLite.read(spark, t).count() == 1L,
      "main must not see unpublished branch rows")
    val meta = IcebergLite.metadata(spark, t)
    assert(meta.get("snapshot-log").size() == 1,
      "branch commits must not append to main's snapshot-log")
    // the branch head carries base + both branch batches
    assert(IcebergLite.readRef(spark, t, "audit")
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(IcebergLite.tableRefs(spark, t)("audit")._2 == "branch")

    // publish: fast-forward main onto the branch head
    IcebergLite.fastForward(spark, t, "audit")
    assert(IcebergLite.read(spark, t)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // a later main commit keeps advancing normally and carries the refs
    IcebergLite.commit(spark, t, Seq((4L, "m")).toDF("k", "s"))
    assert(IcebergLite.read(spark, t).count() == 4L)
    assert(IcebergLite.tableRefs(spark, t).contains("audit"),
      "refs must survive unrelated commits")
  }

  test("the main ref mirrors current-snapshot-id through commit, " +
    "deleteRows, deleteRowsV3, rollbackTo and fastForward") {
    val t = newTable("graft_refs_main")
    def inSync(step: String): Unit = {
      val cur = IcebergLite.metadata(spark, t).get("current-snapshot-id")
        .asLong()
      assert(IcebergLite.tableRefs(spark, t)("main") == (cur -> "branch"),
        s"after $step")
    }
    IcebergLite.commit(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))        // s0
    IcebergLite.createBranch(spark, t, "main")
    IcebergLite.commit(spark, t, Seq((4L, "d")).toDF("k", "s"))   // s1
    inSync("commit")
    IcebergLite.deleteRows(spark, t, Seq(1L).toDF("k"), Seq("k")) // s2
    inSync("deleteRows")
    IcebergLite.deleteRowsV3(spark, t, Seq(2L).toDF("k"), Seq("k")) // s3
    inSync("deleteRowsV3")
    IcebergLite.rollbackTo(spark, t, 0L)
    inSync("rollbackTo")
    IcebergLite.createBranch(spark, t, "wip")
    IcebergLite.commitToBranch(spark, t, "wip",
      Seq((5L, "e")).toDF("k", "s"))                              // s4
    inSync("commitToBranch")
    IcebergLite.fastForward(spark, t, "wip")
    inSync("fastForward")
    assert(IcebergLite.tableRefs(spark, t)("main")._1 == 4L)
  }

  test("table-uuid stays fixed for the table's life across commit, " +
    "delete, expire, property and add-files commits") {
    val t = newTable("graft_refs_uuid")
    def uuid: String =
      IcebergLite.metadata(spark, t).get("table-uuid").asText()
    IcebergLite.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val first = uuid
    def same(step: String): Unit = assert(uuid == first, s"after $step")
    IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))
    same("commit")
    IcebergLite.deleteRows(spark, t, Seq(1L).toDF("k"), Seq("k"))
    same("deleteRows")
    IcebergLite.expireSnapshots(spark, t, 1)
    same("expireSnapshots")
    IcebergLite.setProperty(spark, t, "owner", "audit")
    same("setProperty")
    val snap = IcebergLite.snapshot(spark, t)
    IcebergLite.addFilesCommit(spark, t, snap.schema,
      snap.files.map(p => new org.apache.hadoop.fs.Path(t, p).toString),
      sync = true)
    same("addFilesCommit")
  }

  test("fastForward refuses a diverged branch; tags are immutable and " +
    "not committable") {
    val t = newTable("graft_refs_div")
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))   // s0
    IcebergLite.createBranch(spark, t, "wip")
    IcebergLite.commitToBranch(spark, t, "wip",
      Seq((2L, "w")).toDF("k", "s"))                              // s1
    IcebergLite.commit(spark, t, Seq((3L, "m")).toDF("k", "s"))   // s2, main
    val e = intercept[IllegalArgumentException](
      IcebergLite.fastForward(spark, t, "wip"))
    assert(e.getMessage.contains("not a fast-forward"))

    IcebergLite.createTag(spark, t, "v1")
    intercept[Exception](IcebergLite.commitToBranch(spark, t, "v1",
      Seq((9L, "x")).toDF("k", "s")))
    intercept[Exception](IcebergLite.fastForward(spark, t, "v1"))
  }

  test("tags pin snapshots through expireSnapshots; dropRef releases " +
    "them; properties carry across commits") {
    val t = newTable("graft_refs_tag")
    IcebergLite.commit(spark, t, Seq((1L, "a")).toDF("k", "s"))   // s0
    IcebergLite.createTag(spark, t, "v1")                         // pins s0
    IcebergLite.setProperty(spark, t, "owner", "graft")
    IcebergLite.commit(spark, t, Seq((2L, "b")).toDF("k", "s"))   // s1
    IcebergLite.commit(spark, t, Seq((3L, "c")).toDF("k", "s"))   // s2

    // property carried through data commits, not silently reset
    assert(Option(IcebergLite.metadata(spark, t).get("properties"))
      .exists(_.path("owner").asText() == "graft"),
      "table properties must survive data commits")

    // retain 1 → keep s2 + the tag-pinned s0; s1 expires
    IcebergLite.expireSnapshots(spark, t, retainSnapshots = 1)
    assert(IcebergLite.readRef(spark, t, "v1")
      .select("k").as[Long].collect().toSeq == Seq(1L),
      "the tag-pinned snapshot must survive expiry")
    intercept[Exception](IcebergLite.read(spark, t, Some(1L)))
    assert(IcebergLite.read(spark, t).count() == 3L)

    // dropping the tag releases the pin: the next expire reaps s0
    IcebergLite.dropRef(spark, t, "v1")
    IcebergLite.expireSnapshots(spark, t, retainSnapshots = 1)
    intercept[Exception](IcebergLite.read(spark, t, Some(0L)))
    assert(IcebergLite.read(spark, t).count() == 3L)
  }

  test("removeOrphanFiles reaps unreferenced data/manifest debris and " +
    "staging dirs, never live files") {
    val t = newTable("graft_orphans")
    IcebergLite.commit(spark, t,
      (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s"))
    IcebergLite.commit(spark, t, Seq((11L, "x")).toDF("k", "s"))

    // plant debris: a data-file orphan, a metadata avro orphan, a
    // staging dir (what a failed/lost commit attempt leaves behind)
    val dataOrphan = java.nio.file.Paths.get(t, "data", "part-zz-junk.parquet")
    java.nio.file.Files.write(dataOrphan, Array[Byte](1, 2, 3))
    val metaOrphan = java.nio.file.Paths.get(t, "metadata", "m-zz-junk.avro")
    java.nio.file.Files.write(metaOrphan, Array[Byte](4, 5, 6))
    val staging = java.nio.file.Paths.get(t, ".staging-sdead")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-x.parquet"),
      Array[Byte](7))

    val gone = IcebergLite.removeOrphanFiles(spark, t)
    assert(gone.contains("data/part-zz-junk.parquet") &&
      gone.contains("metadata/m-zz-junk.avro") &&
      gone.contains(".staging-sdead"), s"got $gone")
    assert(!java.nio.file.Files.exists(dataOrphan) &&
      !java.nio.file.Files.exists(metaOrphan) &&
      !java.nio.file.Files.exists(staging))

    // every live read path is intact — current AND time travel
    assert(IcebergLite.read(spark, t).count() == 11L)
    assert(IcebergLite.read(spark, t, Some(0L)).count() == 10L)
  }
}
