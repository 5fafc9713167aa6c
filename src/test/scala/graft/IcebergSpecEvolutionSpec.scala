package graft

import java.nio.file.Files

import graft.sources.IcebergLite

/** PARTITION SPEC EVOLUTION — the spec's `update-spec` surface: a table
  * accumulates partition specs over its life; every data file stays
  * bound to the spec it was written under, new writes land under the
  * new default, and pruning is per-file conservative (a file lacking a
  * spec field scans, never skips). Also pins the r14 inheritance fix:
  * an APPEND that declares nothing keeps the table's current spec
  * instead of silently evolving it to unpartitioned.
  */
class IcebergSpecEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def meta(t: String) = IcebergLite.metadata(spark, t)

  /** The current snapshot's manifest list: manifest file name -> the
    * partition spec id it is listed under.
    */
  private def listedSpecs(t: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val m = meta(t)
    val cur = m.get("current-snapshot-id").asLong()
    val list = m.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == cur).get
      .get("manifest-list").asText()
    val r = new DataFileReader[GenericRecord](new java.io.File(t, list),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.map(e =>
      new java.io.File(e.get("manifest_path").toString).getName ->
        e.get("partition_spec_id").asInstanceOf[Int]).toMap
    finally r.close()
  }

  test("evolve bucket(id) -> bucket(grp): metadata-only, spec history " +
    "kept, globally-unique field-ids, undeclared append inherits the " +
    "NEW default, pruning stays per-file conservative") {
    val t = newTable("graft_specevo")
    val a = (0L until 100L).map(k => (k, k % 5, s"a$k"))
      .toDF("id", "grp", "s")
    IcebergLite.commit(spark, t, a,
      partitionTransforms = Seq("bucket(4, id)"))
    // old-spec pruning works
    val pre = IcebergLite.readWherePart(spark, t,
      Seq(IcebergLite.PartPred("id", eq = 7L)))
    assert(pre.filesSkipped > 0, s"bucket spec must prune: $pre")

    val specId = IcebergLite.evolvePartitionSpec(spark, t,
      Seq("bucket(2, grp)"))
    assert(specId == 1)
    val m1 = meta(t)
    assert(m1.get("default-spec-id").asInt() == 1)
    assert(m1.get("partition-specs").size() == 2,
      "the old spec must stay in the history")
    // field-ids are globally unique across specs
    val ids = m1.get("partition-specs").elements()
    val fieldIds = scala.jdk.CollectionConverters
      .IteratorHasAsScala(ids).asScala
      .flatMap(s => scala.jdk.CollectionConverters
        .IteratorHasAsScala(s.get("fields").elements()).asScala)
      .map(_.get("field-id").asInt()).toSeq
    assert(fieldIds == fieldIds.distinct && fieldIds.contains(1000) &&
      fieldIds.contains(1001), s"field ids must continue: $fieldIds")

    // an undeclared append now INHERITS the new default spec
    val b = (100L until 200L).map(k => (k, k % 5, s"b$k"))
      .toDF("id", "grp", "s")
    IcebergLite.commit(spark, t, b)
    val m2 = meta(t)
    assert(m2.get("default-spec-id").asInt() == 1,
      "the undeclared append must keep the default spec, not evolve it")
    assert(m2.get("partition-specs").size() == 2)

    // pruning on the NEW field: new files prune, old files all scan
    // (they lack grp_bucket — conservative by name)
    val post = IcebergLite.readWherePart(spark, t,
      Seq(IcebergLite.PartPred("grp", eq = 3L)))
    assert(post.filesSkipped > 0,
      s"new-spec files must prune on grp: $post")
    assert(post.df.count() == 40L, s"all grp=3 rows must come back: $post")
    // the whole table still reads exactly
    assert(IcebergLite.read(spark, t).count() == 200L)

    // re-declaring the ORIGINAL spec moves the default back without
    // growing the history
    assert(IcebergLite.evolvePartitionSpec(spark, t,
      Seq("bucket(4, id)")) == 0)
    assert(meta(t).get("partition-specs").size() == 2)
  }

  test("carried manifests keep their partition spec id through " +
    "deleteRows and deleteRowsV3") {
    val t = newTable("graft_specevo_carry")
    def rows(ks: Range) = ks.map(k => (k.toLong, k % 5L, s"a$k"))
      .toDF("id", "grp", "s")
    IcebergLite.commit(spark, t, rows(0 until 40),
      partitionTransforms = Seq("bucket(4, id)"))
    IcebergLite.evolvePartitionSpec(spark, t, Seq("bucket(2, grp)"))
    IcebergLite.commit(spark, t, rows(40 until 60))
    val before = listedSpecs(t)
    assert(before == Map("m-00000-0.avro" -> 0, "m-00001-0.avro" -> 1))
    IcebergLite.deleteRows(spark, t, Seq(3L).toDF("id"), Seq("id"))
    val afterDelete = before + ("m-00002-del.avro" -> 0)
    assert(listedSpecs(t) == afterDelete)
    IcebergLite.deleteRowsV3(spark, t, Seq(44L).toDF("id"), Seq("id"))
    // the v3 delete folds the v2 position deletes into its DVs, so their
    // manifest leaves the list; the carried data manifests keep their ids
    assert(listedSpecs(t) == before + ("m-00003-dv.avro" -> 0))
    assert(IcebergLite.read(spark, t).count() == 58L)
  }

  test("identity-layout changes refuse once data exists (the directory " +
    "layout of written files is fixed); an empty evolution makes the " +
    "table unpartitioned-by-default") {
    val t = newTable("graft_specevo_guard")
    IcebergLite.commit(spark, t,
      Seq((1L, 10L, "x")).toDF("id", "grp", "s"),
      partitionTransforms = Seq("bucket(4, id)"))
    val e = intercept[IllegalArgumentException](
      IcebergLite.evolvePartitionSpec(spark, t, Seq("identity(grp)")))
    assert(e.getMessage.contains("identity"))

    // evolving to the EMPTY spec: future writes land unpartitioned,
    // old bucketed files still read
    assert(IcebergLite.evolvePartitionSpec(spark, t, Nil) == 1)
    IcebergLite.commit(spark, t, Seq((2L, 20L, "y")).toDF("id", "grp", "s"))
    assert(meta(t).get("default-spec-id").asInt() == 1)
    assert(IcebergLite.read(spark, t).count() == 2L)
  }
}
