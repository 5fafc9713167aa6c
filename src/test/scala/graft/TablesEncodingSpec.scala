package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver testdata has shipped `events.ts` in three physical encodings
  * across generations (TIMESTAMP(NANOS) read as LONG via nanosAsLong,
  * TIMESTAMP µs, and TIMESTAMP_NTZ µs). [[Tables.events]] must normalize
  * all of them to one invariant schema with identical values, so data
  * regeneration can never silently break the 17 events-based queries again.
  */
class TablesEncodingSpec extends SparkSpec {

  // Three distinct instants (ns since epoch), µs-aligned so every encoding
  // can represent them exactly.
  private val instantsNs = Seq(1700000000123456000L, 1700000111222333000L, 1700086400000001000L)

  private def writeDir(): String =
    Files.createTempDirectory("graft-events-enc").toString

  /** Write a tiny events table whose `ts` arrives from parquet with the
    * given Spark type, then load it back through Tables.events.
    */
  private def roundTrip(encoding: String): DataFrame = {
    val dir = writeDir()
    val rows = instantsNs.zipWithIndex.map { case (ns, i) =>
      Row(i.toLong, ns, 42L + i, "click", 1.0 * i, "{}")
    }
    val base = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val longDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), base)
    val df = encoding match {
      case "long" => longDf // the shape nanosAsLong produces from TIMESTAMP(NANOS)
      case "timestamp" =>
        longDf.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "ntz" =>
        longDf.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
    }
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  test("events normalizes all three ts encodings to identical ts_ns + TIMESTAMP ts") {
    val results = Seq("long", "timestamp", "ntz").map { enc =>
      val out = roundTrip(enc)
      // invariant output schema
      assert(out.schema("ts_ns").dataType === LongType, s"$enc: ts_ns type")
      assert(out.schema("ts").dataType === TimestampType, s"$enc: ts type")
      enc -> out.select("event_id", "ts_ns", "ts").orderBy("event_id").collect().toSeq
    }.toMap

    assert(results("long").map(_.getLong(1)) === instantsNs)
    assert(results("timestamp") === results("long"), "TIMESTAMP encoding drifted from long/nanos")
    assert(results("ntz") === results("long"), "TIMESTAMP_NTZ encoding drifted from long/nanos")
  }

  test("fanOut repartitions a SMALL multi-row-group single file — splits, " +
    "not row groups, bound the scan") {
    // The r16 trap: 10 row groups inside a few-MB file pass a
    // row-group-only check, but openCostInBytes floors Spark's split
    // size at 4 MB, so the scan really runs ~1-way and every heavy
    // per-row stage above it serializes. fanOut must see the true
    // effective parallelism (min of byte-range splits and row groups)
    // and still fan out.
    val dir = Files.createTempDirectory("graft_fanout").toString
    val docs = spark.range(20000)
      .select(col("id").as("doc_id"),
        concat(lit("word "), col("id")).as("text"),
        lit("en").as("lang"), lit("s0").as("source"),
        lit(7L).as("n_chars"))
    docs.coalesce(1)
      .write.option("parquet.block.size", 16 * 1024)
      .parquet(dir + "/documents.parquet")
    // sanity: the trap shape really holds — ONE file, many row groups
    val files = Tables.load(spark, dir, "documents").inputFiles
    assert(files.length == 1, s"expected one part file, got ${files.length}")
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head),
        spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(groups >= 4, s"fixture must be multi-row-group, got $groups")
    // the loader must deliver real parallelism anyway
    val fanned = Tables.documents(spark, dir)
    assert(repartitioned(fanned), "the one-file layout must fan out")
    val parts = fanned.rdd.getNumPartitions
    assert(parts >= math.min(4, spark.sparkContext.defaultParallelism),
      s"fanOut left a $groups-row-group small file at $parts partitions")
    // the same path rewritten as 4 files splits natively: the recorded
    // verdict must not outlive the file state it was decided on
    docs.repartition(4)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    assert(Tables.load(spark, dir, "documents").inputFiles.length == 4)
    assert(!repartitioned(Tables.documents(spark, dir)),
      "a 4-file layout must not fan out")
  }

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }

  // ---- resolve-once: what a repeated load reuses, and what invalidates it

  private def tableDir(): String =
    Files.createTempDirectory("graft-tables-resolve").toString

  test("resolve-once: a part file replaced in place with a different " +
    "schema is re-inferred") {
    val dir = tableDir()
    val other = tableDir()
    spark.range(3).select(col("id").as("a")).coalesce(1)
      .write.parquet(s"$dir/x.parquet")
    spark.range(5).select(col("id").cast("string").as("b"),
      (col("id") * 2).as("c")).coalesce(1)
      .write.parquet(s"$other/x.parquet")
    assert(Tables.load(spark, dir, "x").schema.fieldNames.toSeq == Seq("a"))
    // same path, same part-file name: only length and mtime tell
    def part(d: String) = new java.io.File(s"$d/x.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val (oldPart, newPart) = (part(dir), part(other))
    Files.copy(newPart.toPath, oldPart.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def crc(f: java.io.File) = new java.io.File(f.getParent, s".${f.getName}.crc")
    Files.copy(crc(newPart).toPath, crc(oldPart).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val reloaded = Tables.load(spark, dir, "x")
    assert(reloaded.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(reloaded.orderBy("c").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      (0 until 5).map(i => (i.toString, 2L * i)))
  }

  test("resolve-once: an added part file changes the rows and the fan-out verdict") {
    val dir = tableDir()
    def docs(from: Long, n: Long) = spark.range(from, from + n)
      .select(col("id").as("doc_id"), lit("t").as("text"))
    docs(0, 100).coalesce(1).write.parquet(s"$dir/documents.parquet")
    val one = Tables.documents(spark, dir)
    assert(one.count() == 100 && repartitioned(one))
    docs(100, 60).repartition(3).write.mode("append")
      .parquet(s"$dir/documents.parquet")
    val four = Tables.documents(spark, dir)
    assert(four.count() == 160)
    assert(!repartitioned(four), "4 files must not fan out")
  }

  test("resolve-once: a session conf that changes the read type re-infers") {
    // a file without Spark's schema metadata (Spark would read its own
    // recorded type back and ignore binaryAsString): a foreign writer's
    // un-annotated BINARY column
    val dir = tableDir()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary bin; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/x.parquet/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try Seq(0L, 1L).foreach(i => writer.write(groups.newGroup()
      .append("id", i).append("bin", i.toString)))
    finally writer.close()
    assert(Tables.load(spark, dir, "x").schema("bin").dataType === BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val asString = Tables.load(spark, dir, "x")
      assert(asString.schema("bin").dataType === StringType)
      assert(asString.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("0", "1"))
    }
    assert(Tables.load(spark, dir, "x").schema("bin").dataType === BinaryType)
  }

  test("resolve-once: two loads of one table self-join by column reference") {
    val dir = tableDir()
    spark.range(4).select(col("id").as("k"), (col("id") * 10).as("v"))
      .coalesce(1).write.parquet(s"$dir/x.parquet")
    Tables.load(spark, dir, "x") // the first resolution; a and b are reuses
    val a = Tables.load(spark, dir, "x")
    val b = Tables.load(spark, dir, "x")
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(a.join(b, a("k") === b("k")).select(a("k"), b("v"))) ==
      (0L until 4L).map(k => (k, 10 * k)))
    // a condition Spark cannot rewrite as a trivial self-equality: only
    // distinct attribute ids tell the two sides apart
    assert(pairs(a.join(b, a("k") === b("k") + 1).select(a("k"), b("k"))) ==
      Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("resolve-once: a missing table path fails with Spark's own read error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, tableDir(), "absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("resolve-once: repeated loads of an unchanged table launch no Spark job") {
    val probe = "graft.tables.probe"
    val marker = "tables-probe-end"
    val started = new java.util.concurrent.LinkedBlockingQueue[(Boolean, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        started.put((p.exists(_.getProperty(probe) != null),
          p.flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")))
      }
    }
    // warm: the first resolution may infer and decide the fan-out
    Tables.load(spark, sf, "lineitem").schema
    Tables.lineitem(spark, sf).schema
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setLocalProperty(probe, "1")
      try (1 to 3).foreach { _ =>
        Tables.load(spark, sf, "lineitem").schema
        Tables.lineitem(spark, sf).schema
      } finally sc.setLocalProperty(probe, null)
      // listener events arrive in order: once the marker job shows up,
      // every job the loads launched has been seen
      sc.setJobDescription(marker)
      try spark.range(1).collect() finally sc.setJobDescription(null)
      var seen = Vector.empty[(Boolean, String)]
      while (!seen.exists(_._2 == marker)) {
        val e = started.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, "marker job never reached the listener")
        seen :+= e
      }
      assert(seen.count(_._1) == 0, s"repeated loads launched ${seen.count(_._1)} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("real testdata events loads with invariant schema and sane range") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_ns").dataType === LongType)
    assert(ev.schema("ts").dataType === TimestampType)
    val r = ev.agg(min("ts_ns"), max("ts_ns"), count(lit(1))).head()
    assert(r.getLong(2) > 0)
    // plausible epoch-ns bounds (year 2000..2100) — catches unit mistakes
    assert(r.getLong(0) > 946684800L * 1000000000L)
    assert(r.getLong(1) < 4102444800L * 1000000000L)
  }
}
