package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.ZOrder
import graft.operators.LakehouseOps

class LakehouseSpec extends SparkSpec {
  import spark.implicits._

  test("mergeUpsert: source wins on match, inserts new, keeps untouched") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x")
    val source = Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("k", "v", "x")
    val out = LakehouseOps.mergeUpsert(target, source, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect()
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
  }

  test("mergeUpsert: duplicate keys — source picks tiebreak winner, " +
    "unmatched target duplicates survive") {
    // target has key 1 twice (untouched) and key 2 once (matched)
    val target = Seq((1L, "a", 1L), (1L, "a2", 2L), (2L, "b", 1L))
      .toDF("k", "v", "ver")
    // source has key 2 twice — ver=5 must win deterministically
    val source = Seq((2L, "old", 3L), (2L, "new", 5L), (3L, "c", 1L))
      .toDF("k", "v", "ver")
    val out = LakehouseOps.mergeUpsert(target, source, Seq("k"),
        tiebreak = Seq(col("ver")))
      .orderBy("k", "ver").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 1L), (1L, "a2", 2L),
      (2L, "new", 5L), (3L, "c", 1L)))
  }

  test("mergeUpsert autoAlign: drift in both directions — source-added " +
    "column lands, target-only column preserved on match") {
    // target has t_only (absent from source); source adds s_new (absent
    // from target) — the reference's autoMerge tolerates both at once
    val target = Seq((1L, "a", "keep1"), (2L, "b", "keep2"))
      .toDF("k", "v", "t_only")
    val source = Seq((2L, "B", 9.9), (3L, "c", 3.3)).toDF("k", "v", "s_new")
    val out = LakehouseOps.mergeUpsert(target, source, Seq("k"),
      autoAlign = true)
    assert(out.columns.toSeq == Seq("k", "v", "t_only", "s_new"))
    val rows = out.orderBy("k")
      .as[(Long, String, Option[String], Option[Double])].collect().toSeq
    assert(rows == Seq(
      (1L, "a", Some("keep1"), None),        // untouched target row
      (2L, "B", Some("keep2"), Some(9.9)),   // source wins, t_only kept
      (3L, "c", None, Some(3.3))))           // insert: t_only null-filled
  }

  test("mergeUpsert autoAlign: without drift behaves exactly like merge") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x")
    val source = Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("k", "v", "x")
    val plain = LakehouseOps.mergeUpsert(target, source, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    val auto = LakehouseOps.mergeUpsert(target, source, Seq("k"),
        autoAlign = true)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(auto == plain)
  }

  test("alignToSchema: null-fills missing, drops extra, casts") {
    val src = Seq((1, "x", "drop-me")).toDF("a", "b", "extra")
    val dest = StructType.fromDDL("a BIGINT, b STRING, c DOUBLE")
    val out = LakehouseOps.alignToSchema(src, dest)
    assert(out.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("a", "long"), ("b", "string"), ("c", "double")))
    val row = out.first()
    assert(row.getLong(0) == 1L && row.getString(1) == "x" && row.isNullAt(2))
  }

  test("zvalue: interleaves bits (known values) and is monotone-safe") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.zvalue(Seq(col("x"), col("y")), 16).as("z"))
    val zs = df.as[Long].collect().toSeq
    // x=3(0b11),y=5(0b101): interleave x→even bits, y→odd bits:
    // bits: x0=1→b0, y0=1→b1, x1=1→b2, y1=0, x2=0, y2=1→b5 => 0b100111 = 39
    assert(zs == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("compactionPlan: bins respect target bytes for in-order packing") {
    val files = Seq(("a", 60L), ("b", 50L), ("c", 10L), ("d", 100L), ("e", 1L))
      .toDF("file", "bytes")
    val plan = LakehouseOps.compactionPlan(files, 100L)
      .select("file", "bin").as[(String, Long)].collect().toMap
    // prefix sums (exclusive): a=0,b=60,c=110,d=120,e=220 → bins 0,0,1,1,2
    assert(plan == Map("a" -> 0L, "b" -> 0L, "c" -> 1L, "d" -> 1L, "e" -> 2L))
  }

  test("scd2 history: intervals chain and end open") {
    val hist = LakehouseOps.dbaScd2History(spark, sf)
    val oneUser = hist.filter(col("user_id") === 0)
      .orderBy("valid_from_ms").collect()
    assert(oneUser.nonEmpty)
    // chained: each valid_to == next valid_from; last open
    oneUser.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("valid_to_ms") == b.getAs[Long]("valid_from_ms"))
      case _ =>
    }
    assert(oneUser.last.isNullAt(oneUser.last.fieldIndex("valid_to_ms")))
    // no consecutive equal statuses
    oneUser.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("status") != b.getAs[String]("status"))
      case _ =>
    }
  }

  test("approx stats track exact stats within sketch tolerance") {
    val exact = LakehouseOps.dbaTableStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = LakehouseOps.dbaTableStatsApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      assert(a.getDouble(1) == e.getDouble(1)) // min exact
      assert(a.getDouble(2) == e.getDouble(2)) // max exact
      assert(a.getLong(3) == e.getLong(3))     // null count exact
      val ndvErr = math.abs(a.getLong(4).toDouble / e.getLong(4) - 1.0)
      assert(ndvErr < 0.1, s"$c approx ndv off by $ndvErr")
    }
    // p50 is the portable 4096-bin histogram interpolation (r18): error
    // is bounded by one bin width = (max-min)/4096 of the column range —
    // assert against the exact median with that bound
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exactP50 = li.selectExpr(
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p")
      .head().getDouble(0)
    val a50 = approx("l_extendedprice").getDouble(5)
    val binW = (approx("l_extendedprice").getDouble(2) -
      approx("l_extendedprice").getDouble(1)) / 4096.0
    assert(math.abs(a50 - exactP50) <= binW,
      s"histogram p50 $a50 off exact median $exactP50 by more than a bin")
  }

  test("tableStats: exact min/max/nulls/NDV per column equal single-" +
    "column SQL over nulls, duplicates, signed zeros, NaN, string, date " +
    "and decimal columns and an empty frame, with no Expand in the plan") {
    import java.sql.Date
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.types._
    object Plans extends AdaptiveSparkPlanHelper
    val schema = new StructType().add("d", DoubleType).add("i", IntegerType)
      .add("s", StringType).add("num", StringType).add("dt", DateType)
      .add("dec", DecimalType(10, 2))
    def date(x: String) = Date.valueOf(x)
    def dec(x: String) = new java.math.BigDecimal(x)
    val rows = Seq(
      Row(0.0, 1, "a", "10", date("2024-01-01"), dec("1.50")),
      Row(-0.0, 1, "b", "2.5", null, dec("1.50")),
      Row(Double.NaN, null, "a", "-1", date("2024-01-01"), null),
      Row(null, 3, null, "10", date("1999-12-31"), dec("-2.25")),
      Row(2.5, 3, "zz", null, date("2024-02-29"), dec("7.00")),
      Row(Double.NaN, 7, "a", "2.5", null, dec("-2.25")),
      Row(2.5, null, null, null, null, null),
      Row(-3.0, 1, "b", "10", date("1999-12-31"), dec("0.00")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema)
    val cols = schema.fieldNames.toSeq
    // a DATE or a non-numeric string casts to DOUBLE only outside ANSI
    withConf("spark.sql.ansi.enabled" -> "false") {
      for (frame <- Seq(df, df.limit(0))) {
        frame.createOrReplaceTempView("table_stats_src")
        val want = cols.map(c => spark.sql(
          s"""SELECT '$c' AS column_name, CAST(MIN($c) AS DOUBLE) AS min_val,
             |  CAST(MAX($c) AS DOUBLE) AS max_val,
             |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS ndv
             |FROM table_stats_src""".stripMargin).head())
        val stats = LakehouseOps.tableStats(frame, cols)
        val got = stats.collect().toSeq
        assert(got == want, s"\n got  $got\n want $want")
        assert(Plans.find(stats.queryExecution.executedPlan)(
          _.isInstanceOf[ExpandExec]).isEmpty, "tableStats must not Expand")
      }
      // NaN and the signed zeros: NaN is one distinct value and the
      // largest, 0.0 and -0.0 one value
      val d = LakehouseOps.tableStats(df, Seq("d")).head()
      assert(d.getDouble(1) == -3.0 && d.getDouble(2).isNaN &&
        d.getLong(3) == 1L && d.getLong(4) == 4L, s"$d")
    }
  }

  test("portable HLL: estimate within ±12% across cardinality decades; " +
    "histogram p50 within one bin of the exact median (property sweep)") {
    // the r18 estimator's contract, pinned as a property over synthetic
    // columns of known NDV spanning the linear-counting branch, the
    // crossover, and the raw-HLL branch (m = 4096 registers)
    for (ndv <- Seq(7L, 300L, 4000L, 60000L)) {
      val df = spark.range(120000)
        .selectExpr(s"CAST(id % $ndv AS DOUBLE) + 0.25 AS c1",
          "CAST(NULL AS DOUBLE) AS c2")
      val got = LakehouseOps.tableStatsApprox(df, Seq("c1", "c2"))
        .collect().map(r => r.getString(0) -> r).toMap
      val est = got("c1").getLong(4)
      val err = math.abs(est.toDouble / ndv - 1.0)
      assert(err < 0.12, s"ndv=$ndv estimated $est (err $err)")
      assert(got("c1").getLong(3) == 0L)
      // histogram p50 vs the exact BRACKETING median order statistics:
      // within one bin of [lower, upper]. (percentile_cont would be the
      // wrong yardstick on atomic data — it interpolates into the empty
      // gap between atoms, a region no histogram of the data represents.)
      val atoms = df.groupBy("c1").count().collect()
        .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
      val n = atoms.map(_._2).sum
      def atRank(k: Long): Double = {
        var cum = 0L
        atoms.find { case (_, c) => cum += c; cum >= k }.get._1
      }
      val (lo, hi) = (atRank(n / 2), atRank(n / 2 + 1))
      val binW = (got("c1").getDouble(2) - got("c1").getDouble(1)) / 4096.0
      val p50v = got("c1").getDouble(5)
      assert(p50v >= lo - binW - 1e-9 && p50v <= hi + binW + 1e-9,
        s"ndv=$ndv p50 $p50v outside [$lo, $hi] ± bin $binW")
      // the all-null column: exact fields null-safe, estimates null
      assert(got("c2").getLong(3) == 120000L, "null count exact")
      assert(got("c2").isNullAt(1) && got("c2").isNullAt(2))
      assert(got("c2").isNullAt(5), "all-null column has no median")
    }
    // constant column: ndv estimate 1, p50 = the value
    val const = spark.range(1000).selectExpr("CAST(42.5 AS DOUBLE) AS c")
    val r = LakehouseOps.tableStatsApprox(const, Seq("c")).collect()(0)
    assert(r.getLong(4) == 1L && r.getDouble(5) == 42.5)
  }

  test("saltedJoin/saltedAgg match their unsalted equivalents") {
    val fact = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
    val dim = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val plain = fact.join(dim, Seq("user_id"))
      .groupBy("user_id").count().orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    val salted = graft.operators.Salting
      .saltedJoin(fact, dim, "user_id", Seq(col("event_id")), nSalts = 8)
      .groupBy("user_id").count().orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(salted == plain)

    val plainAgg = fact.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    val saltedAgg = graft.operators.Salting.saltedAgg(
        fact, "user_id", Seq(col("event_id")), nSalts = 8,
        partial = Seq(count(lit(1)).as("pn"), sum("value").as("ps")),
        finalAgg = Seq(sum("pn").as("n"), sum("ps").as("s")))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    assert(saltedAgg.map(t => (t._1, t._2)) == plainAgg.map(t => (t._1, t._2)))
    saltedAgg.zip(plainAgg).foreach { case (a, b) =>
      assert(math.abs(a._3 - b._3) < 1e-6)
    }
  }

  test("query plans: pricing cost broadcasts the dim, q6 pushes filters") {
    val costPlan = LakehouseOps.dbaPricingCost(spark, sf)
      .queryExecution.executedPlan.toString
    assert(costPlan.contains("BroadcastHashJoin"))
    val q6 = graft.operators.Relational.q6RevenueDelta(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }
}
