package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types._

import graft.harness.Probe
import graft.operators.{LakehouseOps, MergeClause}
import graft.sources.{DataFiles, DeltaLite, IcebergLite}

/** A MERGE or key-DELETE source small enough for the driver is read once
  * ([[DataFiles.keySource]]): the same collected rows prune the files, drop
  * the replaced target rows by key set and give the winners, so the rewrite
  * is one job. Every shape must equal the distributed plan, which a source
  * over the bound still takes, and a full `mergeUpsert` row for row.
  */
class KeySourceSpec extends SparkSpec {

  private def dir(): String = Files.createTempDirectory("keysrc").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `df` written as ONE parquet file and read back with its schema given,
    * so reading it costs no schema-inference job.
    */
  private def oneFile(df: DataFrame): DataFrame = {
    val p = s"${dir()}/src"
    df.coalesce(1).write.parquet(p)
    spark.read.schema(df.schema).parquet(p)
  }

  /** The jobs `body` ran, in completion order, with their labels. */
  private def jobs(body: => Unit): Seq[Probe.JobRow] = {
    val rec = new Probe.JobRecorder
    spark.sparkContext.addSparkListener(rec)
    try { rec.drain(spark); body; rec.drain(spark) }
    finally spark.sparkContext.removeSparkListener(rec)
  }

  private val orders = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("w", IntegerType)))

  /** 200 rows keyed 0..199, range-clustered into 4 files. */
  private def base: DataFrame =
    spark.range(200).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"), (col("id") % 7).cast("int").as("w"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")

  /** Updates of keys 10..19 (two candidate rows each) and inserts 500..504. */
  private def batch: DataFrame = {
    val rs = (10L to 19L).flatMap(k => Seq(Row(k, s"u$k", 1), Row(k, s"u$k", 9))) ++
      (500L to 504L).map(k => Row(k, s"n$k", 3))
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), orders)
  }

  private def tables(df: DataFrame): (String, String) = {
    val root = dir()
    DeltaLite.commit(spark, s"$root/delta", df)
    IcebergLite.commit(spark, s"$root/iceberg", df)
    (s"$root/delta", s"$root/iceberg")
  }

  test("a bounded selectiveMerge runs two labelled jobs on both formats " +
    "and restores the caller's job description") {
    val (d, i) = tables(base)
    val src = oneFile(batch)
    val want = rows(LakehouseOps.mergeUpsert(base, batch, Seq("k")))
    val dj = jobs(DeltaLite.selectiveMerge(spark, d, src, Seq("k")))
    assert(dj.map(_.label) == Seq("delta.merge.source", "delta.merge.write"))
    val ij = jobs(IcebergLite.selectiveMerge(spark, i, src, Seq("k")))
    assert(ij.map(_.label) == Seq("iceberg.merge.source", "iceberg.merge.write"))
    assert(rows(DeltaLite.read(spark, d)) == want)
    assert(rows(IcebergLite.read(spark, i)) == want)
    // a second merge of the same batch changes nothing, and hands the
    // caller's job description back
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      DeltaLite.selectiveMerge(spark, d, src, Seq("k"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
    assert(rows(DeltaLite.read(spark, d)) == want)
  }

  test("bounded key deletes scan only the files whose bounds admit a key") {
    val (d, i) = tables(base)
    val keys = oneFile(spark.range(20, 25).select(col("id").as("k")))
    val dj = jobs(DeltaLite.deleteVectors(spark, d, keys, Seq("k")))
    assert(dj.map(_.label) == Seq("delta.delete.source", "delta.delete.victims"))
    assert(dj.last.tasks == 1, "one of the four files admits keys 20..24")
    val want = rows(base.filter(!col("k").between(20, 24)))
    assert(rows(DeltaLite.read(spark, d)) == want)
    val ij = jobs(IcebergLite.deleteRowsV3(spark, i, keys, Seq("k")))
    assert(ij.map(_.label) ==
      Seq("iceberg.delete.source", "iceberg.delete.victims"))
    assert(ij.last.tasks == 1)
    assert(rows(IcebergLite.read(spark, i)) == want)
    // v2 position deletes: the victims' limit and the delete-file write
    val (_, p) = tables(base)
    val pj = jobs(IcebergLite.deleteRows(spark, p, keys, Seq("k")))
    assert(pj.map(_.label) == Seq("iceberg.delete.source",
      "iceberg.delete.victims", "iceberg.delete.victims"))
    assert(rows(IcebergLite.read(spark, p)) == want)
  }

  /** Run one merge shape through the bounded and the distributed path
    * (`maxPruneKeys = 1` puts a source of two or more rows over the bound)
    * on fresh Delta and Iceberg tables; all four must equal `want`.
    */
  private def bothPaths(target: DataFrame, source: DataFrame, keys: Seq[String],
                        want: Seq[String],
                        clauses: Seq[MergeClause] = Nil,
                        partitionCol: String = ""): Unit = {
    for (bound <- Seq(DataFiles.DefaultMaxPruneKeys, 1)) {
      val (d, i) = tables(target)
      DeltaLite.selectiveMerge(spark, d, source, keys, maxPruneKeys = bound,
        clauses = clauses)
      assert(rows(DeltaLite.read(spark, d)) == want, s"delta, bound $bound")
      IcebergLite.selectiveMerge(spark, i, source, keys, maxPruneKeys = bound,
        clauses = clauses, partitionCol = partitionCol)
      assert(rows(IcebergLite.read(spark, i)) == want, s"iceberg, bound $bound")
    }
  }

  test("duplicate source keys keep the winner rule on both paths") {
    bothPaths(base, batch, Seq("k"),
      rows(LakehouseOps.mergeUpsert(base, batch, Seq("k"))))
  }

  test("null keys: a null-keyed target row survives and duplicate " +
    "null-keyed source rows collapse to one winner") {
    val target = base.union(spark.createDataFrame(
      java.util.Arrays.asList(Row(null, "tnull", 0)), orders))
    val source = spark.createDataFrame(java.util.Arrays.asList(
      Row(null, "s1", 1), Row(null, "s2", 2), Row(5L, "u5", 5)), orders)
    val want = rows(LakehouseOps.mergeUpsert(target, source, Seq("k")))
    assert(want.count(_.startsWith("[null,")) == 2)
    bothPaths(target, source, Seq("k"), want)
  }

  test("two-column keys") {
    val source = spark.createDataFrame(java.util.Arrays.asList(
      Row(3L, "v3", 30), Row(3L, "other", 31), Row(4L, "v4", 40),
      Row(4L, "v4", 41), Row(900L, "v900", 1)), orders)
    bothPaths(base, source, Seq("k", "v"),
      rows(LakehouseOps.mergeUpsert(base, source, Seq("k", "v"))))
  }

  test("double keys keep the join plan: -0.0 replaces 0.0") {
    val schema = StructType(Seq(StructField("k", DoubleType),
      StructField("v", StringType)))
    val target = spark.createDataFrame(java.util.Arrays.asList(
      Row(0.0, "zero"), Row(1.5, "a"), Row(2.5, "b")), schema)
    val source = spark.createDataFrame(java.util.Arrays.asList(
      Row(-0.0, "negzero"), Row(2.5, "B")), schema)
    val want = rows(LakehouseOps.mergeUpsert(target, source, Seq("k")))
    assert(want == Seq("[-0.0,negzero]", "[1.5,a]", "[2.5,B]"))
    bothPaths(target, source, Seq("k"), want)
    val (d, _) = tables(target)
    val labels = jobs(DeltaLite.selectiveMerge(spark, d, source, Seq("k")))
      .map(_.label)
    assert(!labels.contains("delta.merge.source"), labels)
  }

  test("clause merges") {
    import MergeClause._
    val clauses = Seq(
      MatchedDelete(Some(col("s.w") === 9)),
      MatchedUpdate(Some(col("s.w") > col("t.w"))),
      NotMatchedInsert())
    val source = spark.createDataFrame(java.util.Arrays.asList(
      Row(10L, "a", 9), Row(11L, "b", 6), Row(12L, "c", 0),
      Row(700L, "d", 1)), orders)
    bothPaths(base, source, Seq("k"),
      rows(LakehouseOps.mergeClauses(base, source, Seq("k"), clauses)),
      clauses = clauses)
  }

  test("a partitioned Iceberg table") {
    val target = base.withColumn("p", (col("k") % 3).cast("int"))
    val source = batch.withColumn("p", (col("k") % 3).cast("int"))
    val want = rows(LakehouseOps.mergeUpsert(target, source, Seq("k")))
    for (bound <- Seq(DataFiles.DefaultMaxPruneKeys, 1)) {
      val t = s"${dir()}/iceberg"
      IcebergLite.commit(spark, t, target, partitionBy = Seq("p"))
      IcebergLite.selectiveMerge(spark, t, source, Seq("k"),
        partitionCol = "p", maxPruneKeys = bound)
      assert(rows(IcebergLite.read(spark, t)) == want, s"bound $bound")
    }
  }

  test("Delta CDF: both paths record the same change feed") {
    val feeds = for (bound <- Seq(DataFiles.DefaultMaxPruneKeys, 1)) yield {
      val t = s"${dir()}/delta"
      DeltaLite.commit(spark, t, base)
      val v0 = DeltaLite.setTableProperty(spark, t, DeltaLite.CdfProperty, "true")
      val v1 = DeltaLite.selectiveMerge(spark, t, batch, Seq("k"),
        maxPruneKeys = bound).version
      assert(rows(DeltaLite.read(spark, t)) ==
        rows(LakehouseOps.mergeUpsert(base, batch, Seq("k"))))
      rows(DeltaLite.changes(spark, t, v0, v1, Seq("k")))
    }
    assert(feeds.head.nonEmpty)
    assert(feeds.head == feeds.last)
  }

  test("key deletes over the bound keep the join plan and equal the " +
    "pruned ones") {
    val small = spark.range(40, 45).select(col("id").as("k"))
    // LocalSourceRows + 1 keys, almost all absent from the table
    val large = spark.range(40, 41L + DataFiles.LocalSourceRows)
      .select(col("id").as("k"))
    val want = rows(base.filter(!col("k").between(40, 44)))
    val wantLarge = rows(base.filter(col("k") < 40))
    for ((keys, expect) <- Seq(small -> want, large -> wantLarge)) {
      val (d, i) = tables(base)
      DeltaLite.deleteVectors(spark, d, keys, Seq("k"))
      assert(rows(DeltaLite.read(spark, d)) == expect)
      IcebergLite.deleteRows(spark, i, keys, Seq("k"))
      assert(rows(IcebergLite.read(spark, i)) == expect)
      val (_, e) = tables(base)
      IcebergLite.deleteRows(spark, e, keys, Seq("k"), equality = true)
      assert(rows(IcebergLite.read(spark, e)) == expect)
    }
  }

  test("Iceberg position deletes and deletion vectors on a table path " +
    "holding a space and a plus") {
    val root = s"${dir()}/t t+1"
    val df = spark.range(10).select(col("id").as("k"), col("id").cast("string").as("v"))
      .repartition(2, col("k"))
    val want = rows(df.filter(!col("k").isin(3L, 4L)))
    val keys = spark.range(3, 5).select(col("id").as("k"))
    IcebergLite.commit(spark, s"$root/pos", df)
    assert(IcebergLite.deleteRows(spark, s"$root/pos", keys, Seq("k")).rowsDeleted == 2)
    assert(rows(IcebergLite.read(spark, s"$root/pos")) == want)
    IcebergLite.commit(spark, s"$root/dv", df)
    assert(IcebergLite.deleteRowsV3(spark, s"$root/dv", keys, Seq("k")).rowsDeleted == 2)
    assert(rows(IcebergLite.read(spark, s"$root/dv")) == want)
  }

  test("a Delta version claimed twice: the second publish fails and the " +
    "first one's actions survive") {
    val t = s"${dir()}/delta"
    DeltaLite.commit(spark, t, base)
    def info(op: String) = s"""{"commitInfo":{"operation":"$op","timestamp":0}}""" + "\n"
    DeltaLite.publishCommit(spark, t, 1L, info("FIRST"))
    intercept[java.util.ConcurrentModificationException](
      DeltaLite.publishCommit(spark, t, 1L, info("SECOND")))
    val logged = new String(Files.readAllBytes(java.nio.file.Paths.get(
      t, "_delta_log", f"${1}%020d.json")), StandardCharsets.UTF_8)
    assert(logged.contains("FIRST") && !logged.contains("SECOND"))
    assert(DeltaLite.snapshot(spark, t).version == 1L)
  }

  test("a snapshot over a classic single-file or multi-part checkpoint " +
    "runs at most two jobs and reads the same state") {
    val t = s"${dir()}/delta"
    DeltaLite.commit(spark, t, base.limit(50))
    DeltaLite.commit(spark, t, base.filter(col("k") >= 150))
    DeltaLite.setTableProperty(spark, t, "delta.appendOnly", "false")
    DeltaLite.deleteVectors(spark, t, spark.range(160, 162)
      .select(col("id").as("k")), Seq("k"))
    // the state JSON replay alone reads, files in a canonical order
    def canon(s: DeltaLite.Snapshot) = s.copy(files = s.files.sorted)
    val replayed = canon(DeltaLite.snapshot(spark, t))
    val cv = DeltaLite.checkpoint(spark, t)
    var single: DeltaLite.Snapshot = null
    assert(jobs { single = DeltaLite.snapshot(spark, t) }.size <= 2)
    assert(canon(single) == replayed)
    // split the checkpoint into two parts and drop the single file
    val log = new Path(t, "_delta_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = new Path(log, f"$cv%020d.checkpoint.parquet")
    val parts = s"${dir()}/parts"
    spark.read.parquet(cp.toString).repartition(2).write.parquet(parts)
    val files = fs.listStatus(new Path(parts)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 2)
    files.zipWithIndex.foreach { case (p, i) =>
      assert(fs.rename(p, new Path(log, f"$cv%020d.checkpoint.${i + 1}%010d.0000000002.parquet")))
    }
    assert(fs.delete(cp, false))
    var multi: DeltaLite.Snapshot = null
    assert(jobs { multi = DeltaLite.snapshot(spark, t) }.size <= 2)
    assert(canon(multi) == replayed)
  }
}
