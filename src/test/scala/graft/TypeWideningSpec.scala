package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.DeltaLite

/** TYPE WIDENING — the `typeWidening` reader+writer feature: a column
  * changes to a wider type METADATA-ONLY; parquet files keep the
  * narrow physical type and the scan upcasts (int32→int64,
  * float→double — Spark's parquet readers promote natively under the
  * pinned wider schema). The spec's `delta.typeChanges` field metadata
  * records which table version widened what.
  */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("widen int->long and float->double: values exact across eras, " +
    "stats pruning survives, wide appends land, narrow appends and " +
    "non-widenings refuse, typeChanges recorded") {
    val t = newTable("graft_widen")
    val narrow = (0 until 1000).map(k => (k, k / 2.0f, s"v$k"))
      .toDF("k", "f", "s")
      .repartitionByRange(4, col("k"))
    DeltaLite.commit(spark, t, narrow)                      // v0, int/float
    val preScan = DeltaLite.readWhere(spark, t, "k", 10, 20)
    assert(preScan.filesSkipped > 0)

    DeltaLite.widenColumn(spark, t, "k", "long")            // v1
    DeltaLite.widenColumn(spark, t, "f", "double")          // v2
    val snap = DeltaLite.snapshot(spark, t)
    assert(snap.writerFeatures.contains("typeWidening") &&
      snap.readerFeatures.contains("typeWidening"))
    val df = DeltaLite.read(spark, t)
    assert(df.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(df.count() == 1000L)
    assert(df.filter($"k" === 7L).select("f").head().getDouble(0) == 3.5)
    // typeChanges metadata names the widening and its table version
    val kMeta = df.schema("k").metadata.json
    assert(kMeta.contains("delta.typeChanges") &&
      kMeta.contains("\"fromType\":\"integer\"") &&
      kMeta.contains("\"toType\":\"long\""), s"typeChanges missing: $kMeta")

    // old files' narrow stats still prune under the wide schema
    val postScan = DeltaLite.readWhere(spark, t, "k", 10L, 20L)
    assert(postScan.filesSkipped > 0, s"stats must survive the widen: $postScan")
    assert(postScan.df.count() == 11L)

    // a WIDE append lands; mixed eras read together
    DeltaLite.commit(spark, t,
      Seq((5000L, 9.5, "w")).toDF("k", "f", "s"))           // v3
    val all = DeltaLite.read(spark, t)
    assert(all.count() == 1001L)
    assert(all.filter($"k" === 5000L).count() == 1L)

    // a NARROW append refuses (the table schema is long now)
    intercept[Exception](DeltaLite.commit(spark, t,
      Seq((6000, 1.5f, "n")).toDF("k", "f", "s")))
    // non-widening changes refuse
    intercept[IllegalArgumentException](
      DeltaLite.widenColumn(spark, t, "k", "integer"))
    intercept[IllegalArgumentException](
      DeltaLite.widenColumn(spark, t, "s", "long"))
  }

  test("float->double widen: pre-widen files' FLOAT stats keep pruning " +
    "exact against double bounds, and post-widen DOUBLE stats too") {
    val t = newTable("graft_widen_float")
    DeltaLite.commit(spark, t, Seq((1, 0.3f)).toDF("k", "f"))  // v0, float
    DeltaLite.widenColumn(spark, t, "f", "double")             // v1
    DeltaLite.commit(spark, t, Seq((2, 0.1)).toDF("k", "f")
      .select(col("k").cast("int"), col("f")))                 // v2, double
    // 0.3f reads as 0.30000001192092896 after the widen: its file holds
    // a row in [0.30000001, 1.0]; the double 0.1 file holds 0.1 exactly
    val up = DeltaLite.readWhere(spark, t, "f", 0.30000001, 1.0)
    assert(up.df.count() == 1 && up.filesScanned == 1,
      s"pre-widen file mis-pruned: ${up.filesScanned}/${up.filesSkipped}")
    val low = DeltaLite.readWhere(spark, t, "f", 0.0, 0.1)
    assert(low.df.count() == 1 && low.filesScanned == 1,
      s"post-widen file mis-pruned: ${low.filesScanned}/${low.filesSkipped}")
  }

  test("a forged foreign typeWidening table reads (reader gate admits " +
    "the feature); time travel below the widen keeps the narrow schema") {
    val t = newTable("graft_widen_foreign")
    DeltaLite.commit(spark, t,
      (0 until 50).map(k => (k, s"x$k")).toDF("k", "s"))
    DeltaLite.widenColumn(spark, t, "k", "long")
    // time travel to v0 resolves the pre-widen metaData: int schema
    assert(DeltaLite.read(spark, t, Some(0L)).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(DeltaLite.read(spark, t).schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(DeltaLite.read(spark, t, Some(0L)).count() == 50L)
  }
}
