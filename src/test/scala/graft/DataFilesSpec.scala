package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.LakehouseOps
import graft.sources.{DataFiles, DeltaLite, IcebergLite}

/** The shared data-file layer under both table formats: the same frames
  * committed to a Delta and an Iceberg table must prune EXACTLY (pruned
  * reads and merges equal their unpruned replays) and IDENTICALLY (the
  * same file counts on the same layout), on every prunable key type.
  */
class DataFilesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("s", StringType)))
  private val keyCols = schema.fieldNames.toSeq

  // small domains so files share bounds and batches hit stored keys;
  // the specials exercise the IEEE edges (signed zero, infinities, a
  // float whose decimal text is not its double value)
  private val intGen = Gen.frequency(
    9 -> Gen.chooseNum(-40, 40), 1 -> Gen.oneOf(Int.MinValue, Int.MaxValue))
  private val longGen = Gen.frequency(
    9 -> Gen.chooseNum(-500L, 500L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
  private val floatGen = Gen.frequency(
    6 -> Gen.chooseNum(-20, 20).map(_ / 10.0f),
    2 -> Gen.oneOf(0.0f, -0.0f, 0.3f, Float.MinPositiveValue),
    1 -> Gen.oneOf(Float.PositiveInfinity, Float.NegativeInfinity))
  private val doubleGen = Gen.frequency(
    6 -> Gen.chooseNum(-20, 20).map(_ / 10.0),
    2 -> Gen.oneOf(0.0, -0.0, 0.1 + 0.2, Double.MinPositiveValue),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))
  // UTF-8 byte order: a < z < é < 中 < Ａ (U+FF21) < 𝔸 < 😀 — UTF-16
  // code-unit order puts the two supplementary characters BEFORE Ａ
  private val stringGen = Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n,
    Gen.oneOf("a", "z", "é", "中", "Ａ", "𝔸", "😀")))
    .map(_.mkString)
  private val rowGen: Gen[Row] = for {
    i <- intGen; l <- longGen; f <- floatGen; d <- doubleGen; s <- stringGen
  } yield Row(i, l, f, d, s)

  private def valueGen(c: String): Gen[Any] = c match {
    case "i" => intGen
    case "l" => longGen
    case "f" => floatGen
    case "d" => doubleGen
    case "s" => stringGen
  }

  /** A readWhere bound for column `c`: a fresh value or a stored one
    * (file bounds sit exactly on stored values); FLOAT columns also get
    * doubles at, and between, a float's decimal text and its exact value.
    */
  private def boundGen(c: String, rows: Seq[Row]): Gen[Any] = {
    val v = Gen.frequency(1 -> valueGen(c),
      1 -> Gen.oneOf(rows.map(_.get(schema.fieldIndex(c)))))
    if (c != "f") v
    else v.flatMap { case x: Float => Gen.oneOf[Any](x, x.toDouble,
      x.toString.toDouble, (x.toString.toDouble + x.toDouble) / 2) }
  }

  /** Reference order for generated values (not the code under test):
    * integers exactly, floating values as doubles, strings by unsigned
    * UTF-8 bytes.
    */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val (bx, by) = (x.getBytes(StandardCharsets.UTF_8),
        y.getBytes(StandardCharsets.UTF_8))
      bx.zip(by).map { case (p, q) => (p & 0xFF) - (q & 0xFF) }
        .find(_ != 0).getOrElse(bx.length - by.length)
    case (x: Int, y: Int)   => x.compare(y)
    case (x: Long, y: Long) => x.compare(y)
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
  }

  private def ordered(a: Any, b: Any): (Any, Any) =
    if (cmp(a, b) <= 0) (a, b) else (b, a)

  /** `rows` sorted on the cluster column and cut into `files` contiguous
    * slices, the way `parallelize` cuts them — one parquet file each, so
    * files carry distinct bounds on that column.
    */
  private def slices(rows: Seq[Row], clusterCol: String,
                     files: Int): Seq[Seq[Row]] = {
    val i = schema.fieldIndex(clusterCol)
    val sorted = rows.sortWith((a, b) => cmp(a.get(i), b.get(i)) < 0)
    (0 until files).map(f =>
      sorted.slice(f * sorted.size / files, (f + 1) * sorted.size / files))
  }

  /** Half-open FLOAT ranges starting just past each file's [min, max]
    * on `f`, between the float's decimal text and its exact value — the
    * bound a decimal-domain comparison mis-prunes.
    */
  private def floatEdges(files: Seq[Seq[Row]]): Seq[(String, Any, Any)] = {
    val fi = schema.fieldIndex("f")
    def mid(x: Float): Double = (x.toString.toDouble + x.toDouble) / 2
    files.flatMap { rows =>
      val fs = rows.map(_.getFloat(fi)).sortWith(cmp(_, _) < 0)
      Seq(("f", mid(fs.last), Double.PositiveInfinity),
        ("f", Double.NegativeInfinity, mid(fs.head)))
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(keyCols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private case class Case(files: Seq[Seq[Row]], bounds: Seq[(String, Any, Any)],
                          mergeCol: String, batch: Seq[Row])

  private val caseGen: Gen[Case] = for {
    files <- Gen.chooseNum(2, 5)
    n <- Gen.chooseNum(files * 3, files * 8)
    rows <- Gen.listOfN(n, rowGen)
    clusterCol <- Gen.oneOf(keyCols)
    bounds <- Gen.sequence[List[(String, Any, Any)], (String, Any, Any)](
      keyCols.flatMap(c => Seq.fill(3)(
        for (a <- boundGen(c, rows); b <- boundGen(c, rows)) yield {
          val (lo, hi) = ordered(a, b); (c, lo, hi)
        })))
    mergeCol <- Gen.frequency(3 -> Gen.const(clusterCol), 1 -> Gen.oneOf(keyCols))
    fresh <- Gen.listOfN(6, rowGen)
    hits <- Gen.pick(3, rows)
  } yield {
    val k = schema.fieldIndex(mergeCol)
    // three stored keys with new values, three fresh keys; one batch row
    // per key (Spark's join treats -0.0 and 0.0 as one key)
    def norm(x: Any): Any = x match {
      case f: Float if f == 0.0f => 0.0f
      case d: Double if d == 0.0 => 0.0
      case other => other
    }
    val updated = hits.zip(fresh).map { case (h, r) =>
      Row.fromSeq(r.toSeq.updated(k, h.get(k))) }
    val batch = (updated ++ fresh.drop(3)).groupBy(r => norm(r.get(k)))
      .values.map(_.head).toSeq
    val layout = slices(rows, clusterCol, files)
    Case(layout, bounds ++ floatEdges(layout), mergeCol, batch)
  }

  test("property: Delta and Iceberg prune exactly and identically on " +
    "INT/LONG/FLOAT/DOUBLE/STRING keys — readWhere equals the unpruned " +
    "filter, selectiveMerge equals a mergeUpsert replay") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(org.scalacheck.rng.Seed(0x5EEDL))
    val p = Prop.forAllNoShrink(caseGen) { c =>
      val dir = Files.createTempDirectory("graft_datafiles").toString
      val (dt, it) = (s"$dir/delta", s"$dir/iceberg")
      val df = spark.createDataFrame(spark.sparkContext
        .parallelize(c.files.flatten, c.files.size), schema)
      DeltaLite.commit(spark, dt, df)
      IcebergLite.commit(spark, it, df)
      val all = DeltaLite.read(spark, dt)
      val reads = c.bounds.map { case (k, lo, hi) =>
        val want = rowsOf(all.filter(col(k) >= lo && col(k) <= hi))
        val d = DeltaLite.readWhere(spark, dt, k, lo, hi)
        val i = IcebergLite.readWhere(spark, it, k, lo, hi)
        val ok = rowsOf(d.df) == want && rowsOf(i.df) == want &&
          d.filesScanned == i.filesScanned &&
          d.filesScanned + d.filesSkipped == c.files.size
        if (!ok) println(s"readWhere $k [$lo, $hi]: delta " +
          s"${d.filesScanned}/${d.filesSkipped}, iceberg " +
          s"${i.filesScanned}/${i.filesSkipped}")
        ok
      }
      val updates = spark.createDataFrame(
        spark.sparkContext.parallelize(c.batch, 1), schema)
      val want = rowsOf(LakehouseOps.mergeUpsert(all, updates, Seq(c.mergeCol)))
      val dm = DeltaLite.selectiveMerge(spark, dt, updates, Seq(c.mergeCol))
      val im = IcebergLite.selectiveMerge(spark, it, updates, Seq(c.mergeCol))
      val merged = rowsOf(DeltaLite.read(spark, dt)) == want &&
        rowsOf(IcebergLite.read(spark, it)) == want &&
        dm.filesRewritten == im.filesRewritten &&
        dm.filesSkipped == im.filesSkipped
      if (!merged) println(s"merge on ${c.mergeCol}: delta $dm, iceberg $im")
      Prop(reads.forall(identity)) :| "readWhere" && Prop(merged) :| "merge"
    }
    val r = SCTest.check(params, p)
    assert(r.passed, r.toString)
  }

  test("footer fold: an unreadable file yields no stats, logs a warning " +
    "naming it, and does not throw") {
    val bad = Files.createTempFile("graft_not_parquet", ".parquet")
    Files.write(bad, "not a parquet file".getBytes(StandardCharsets.UTF_8))
    val logger = LogManager.getLogger(DataFiles.getClass.getName)
      .asInstanceOf[CoreLogger]
    val seen = ArrayBuffer.empty[String]
    val capture = new AbstractAppender("capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.synchronized { seen += e.getMessage.getFormattedMessage }
    }
    capture.start()
    logger.addAppender(capture)
    val got = try DataFiles.footerStats(
      spark.sparkContext.hadoopConfiguration, new Path(bad.toUri))
    finally logger.removeAppender(capture)
    assert(got.isEmpty)
    assert(seen.exists(m => m.contains(bad.getFileName.toString) &&
      m.contains("Exception")), s"no warning naming the file: $seen")
  }
}
