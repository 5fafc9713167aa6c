package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.maintenance.TableMaintenance
import graft.sources.{DeltaLite, IcebergLite}

/** The `lake` workload: one `orders` table kept as a Delta table and as an
  * Iceberg table, driven through the same seed-drawn schedule. Each step is
  * applied to both formats as two separate ops, Delta first: write steps
  * (key-band MERGE upserts, appends, merge-on-read deletes, OPTIMIZE) and
  * read steps (latest, time travel, key range, change feed, history,
  * file listing plus ANALYZE). Reads on the two formats must agree; after
  * the timed phase both tables must equal a plain-DataFrame replay of the
  * write steps that ran. Set-up first runs one untimed round on small
  * throwaway tables, so the timed ops pay no first-call costs. */
final class Lake(spark: SparkSession, probe: Probe, seed: Long, work: String)
    extends Workload {
  import Lake._

  private val live = new Tables(s"$work/lake", Gen.Orders, MaxRounds, seed)
  /** Small throwaway tables that take one untimed round in set-up, so no
    * timed op is the JVM's first call of its kind. */
  private val warm = new Tables(s"$work/warmup", WarmRows, 1, ~seed)

  override val tableRoot: Option[java.io.File] = Some(new java.io.File(live.tables))

  def setup(): Unit = {
    warm.land()
    live.land()
    // the timed round on the live tables checks the results
    (warm.run.flatten ++ warm.closing).foreach(_.run())
  }

  /** One round is one cycle of the step pattern, so every round runs the
    * same op mix; a run ends after [[MaxRounds]] rounds at most. */
  def rounds: Iterator[Seq[Op]] = live.run

  override def closing: Seq[Op] = live.closing

  override def verify(): Seq[(String, Boolean)] = live.verify()

  /** Write and space amplification of the run; `written` is the bytes the
    * timed phase wrote through the file system. */
  def amplification(written: Long): Seq[Metric] = {
    def liveBytes(df: DataFrame) = df.agg(sum("size_bytes")).head().getLong(0)
    val files = liveBytes(DeltaLite.files(spark, live.delta)) +
      liveBytes(IcebergLite.files(spark, live.iceberg))
    val onDisk = Storage.tree(tableRoot.get).bytes
    Seq(Metric("write_amp", written.toDouble / math.max(1L, live.batchBytes), "ratio"),
      Metric("space_amp", onDisk.toDouble / math.max(1L, files), "ratio"))
  }

  /** A Delta table and an Iceberg table under `dir`, both landed from
    * `rows` `orders` rows and then driven through `rounds` rounds of the
    * step pattern; `seed` draws the rows, the schedule and every read
    * parameter. */
  private final class Tables(dir: String, rows: Long, rounds: Int, seed: Long) {
    val tables = s"$dir/tables"
    val delta = s"$tables/delta_orders"
    val iceberg = s"$tables/iceberg_orders"
    private val batchDir = s"$dir/batches"
    private val schedule = Lake.schedule(seed, rounds * Pattern.size, rows)
    private val readRnd = new java.util.Random(seed ^ 0x5eedL)
    private var draws = 0
    /** The next variate of [[versionDraw]]: version picks take these. */
    private def nextDraw(): Double = { draws += 1; versionDraw(draws - 1) }
    /** (Delta version, Iceberg snapshot id) after each write step, oldest
      * first: the versions a time-travel or change-feed read may name. */
    private val versions = mutable.ArrayBuffer.empty[(Long, Long)]
    private val executed = mutable.ArrayBuffer.empty[Step]
    private var consumed = 0L
    /** Bytes of the batch files the write steps that ran consumed. */
    def batchBytes: Long = consumed

    /** Land the base table in both formats and write every batch of the
      * schedule as parquet. */
    def land(): Unit = {
      val base = Gen.orders(spark, seed, rows).repartitionByRange(Files, col(Key))
        .sortWithinPartitions(Key)
      DeltaLite.commit(spark, delta, base)
      val v = DeltaLite.setTableProperty(spark, delta, "delta.checkpointInterval", "10")
      val s = IcebergLite.commit(spark, iceberg, base)
      versions += ((v, s))
      val specs = schedule.flatMap(st => st.bands.map(b => (st.index, b.first, b.n, b.valueSeed)))
      import spark.implicits._
      specs.toDF("batch", "first", "n", "vseed")
        .select(col("batch"), col("vseed"),
          explode(sequence(col("first"), col("first") + col("n") - 1)).as("k"))
        .select((col("batch") +: Gen.orderCols(col("vseed"), col("k"))): _*)
        .repartition(4, col("batch"))
        .write.partitionBy("batch").parquet(batchDir)
    }

    private def batch(st: Step): DataFrame = spark.read.parquet(s"$batchDir/batch=${st.index}")

    private def record(v: Long, s: Long): Unit =
      if (versions.isEmpty || versions.last != ((v, s))) versions += ((v, s))

    def run: Iterator[Seq[Op]] = schedule.grouped(Pattern.size).map(_.flatMap(step))

    def closing: Seq[Op] = Seq(
      Op("delta.vacuum", () => { probe.call("delta.vacuum")(DeltaLite.vacuum(spark, delta)); true }),
      Op("iceberg.expireSnapshots", () => {
        probe.call("iceberg.expireSnapshots")(IcebergLite.expireSnapshots(spark, iceberg)); true
      }))

    /** A write step on both formats; the Iceberg op records the new pair of
      * versions once both have committed. */
    private def write(st: Step, d: () => Long, i: () => Long): Seq[Op] = {
      var dv = -1L
      Seq(
        Op(s"delta.${st.kind}", () => { dv = d(); true }),
        Op(s"iceberg.${st.kind}", () => {
          val iv = i()
          executed += st
          consumed += Storage.tree(new java.io.File(s"$batchDir/batch=${st.index}")).bytes
          if (dv >= 0) record(dv, iv)
          true
        }))
    }

    /** The same logical read on both formats, fingerprinted; the Iceberg op
      * fails unless the two agree. `draw` picks the read's parameters when
      * the step starts and returns the two reads. */
    private def pair(kind: String, draw: () => (() => DataFrame, () => DataFrame)): Seq[Op] = {
      var reads: (() => DataFrame, () => DataFrame) = null
      var fd: Fingerprint = null
      Seq(
        Op(s"delta.$kind", () => {
          reads = draw()
          fd = probe.call(s"delta.$kind")(Fingerprint.of(reads._1()))
          true
        }),
        Op(s"iceberg.$kind", () =>
          fd != null && probe.call(s"iceberg.$kind")(Fingerprint.of(reads._2())) == fd))
    }

    /** A history index with recent skew: most land near the tip, a tail
      * spreads over the whole log. */
    private def recent(): Int = {
      val r = nextDraw()
      versions.size - 1 - math.floor(versions.size * r * r * r).toInt
    }

    private def step(st: Step): Seq[Op] = st.kind match {
      case "selectiveMerge" => write(st,
        () => {
          val m = probe.call("delta.selectiveMerge")(DeltaLite.selectiveMerge(spark, delta, batch(st), Keys))
          probe.add("delta.merge.files_rewritten", m.filesRewritten)
          probe.add("delta.merge.files_skipped", m.filesSkipped)
          m.version
        },
        () => {
          val m = probe.call("iceberg.selectiveMerge")(IcebergLite.selectiveMerge(spark, iceberg, batch(st), Keys))
          probe.add("iceberg.merge.files_rewritten", m.filesRewritten)
          probe.add("iceberg.merge.files_skipped", m.filesSkipped)
          m.snapshotId
        })
      case "commit" => write(st,
        () => probe.call("delta.commit")(DeltaLite.commit(spark, delta, batch(st))),
        () => probe.call("iceberg.commit")(IcebergLite.commit(spark, iceberg, batch(st))))
      case "delete" => write(st,
        () => probe.call("delta.deleteVectors")(
          DeltaLite.deleteVectors(spark, delta, batch(st).select(Key), Keys)).version,
        () => probe.call("iceberg.deleteRows")(
          IcebergLite.deleteRows(spark, iceberg, batch(st).select(Key), Keys)).snapshotId)
      case "optimizeCompact" => write(st,
        () => probe.call("delta.optimizeCompact")(DeltaLite.optimizeCompact(spark, delta, Files)),
        () => probe.call("iceberg.optimizeCompact")(IcebergLite.optimizeCompact(spark, iceberg, Files)))
      case "optimizeZorder" => write(st,
        () => probe.call("delta.optimizeZorder")(DeltaLite.optimizeZorder(spark, delta, Keys, Files)),
        () => probe.call("iceberg.optimizeZorder")(IcebergLite.optimizeZorder(spark, iceberg, Keys, Files)))
      case "read" => pair("read", () =>
        (() => DeltaLite.read(spark, delta), () => IcebergLite.read(spark, iceberg)))
      case "readAsOf" => pair("read", () => {
        val (v, s) = versions(recent())
        (() => DeltaLite.read(spark, delta, Some(v)), () => IcebergLite.read(spark, iceberg, Some(s)))
      })
      case "readWhere" => pair("readWhere", () => {
        val lo = (readRnd.nextDouble() * rows).toLong
        val hi = lo + 2000L
        (() => {
          val s = DeltaLite.readWhere(spark, delta, Key, lo, hi)
          probe.add("delta.readWhere.files_scanned", s.filesScanned)
          probe.add("delta.readWhere.files_skipped", s.filesSkipped)
          s.df
        }, () => {
          val s = IcebergLite.readWhere(spark, iceberg, Key, lo, hi)
          probe.add("iceberg.readWhere.files_scanned", s.filesScanned)
          probe.add("iceberg.readWhere.files_skipped", s.filesSkipped)
          s.df
        })
      })
      case "changes" => pair("changes", () => {
        val to = math.max(1, recent())
        val from = math.min(to - 1, (nextDraw() * to).toInt)
        val ((v0, s0), (v1, s1)) = (versions(from), versions(to))
        (() => DeltaLite.changes(spark, delta, v0, v1, Keys),
          () => IcebergLite.changes(spark, iceberg, s0, Some(s1), Keys))
      })
      case "history" =>
        // Delta's log also holds the initial commit before the property
        // commit that `versions` starts from
        Seq(
          Op("delta.history", () =>
            probe.call("delta.history")(DeltaLite.history(spark, delta).collect().length) ==
              versions.map(_._1).distinct.size + 1),
          Op("iceberg.history", () =>
            probe.call("iceberg.history")(IcebergLite.history(spark, iceberg).collect().length) ==
              versions.map(_._2).distinct.size))
      case "files" =>
        def analyze(df: DataFrame) = probe.call("maintenance.analyze")(
          Fingerprint.of(TableMaintenance.analyze(df, AnalyzeCols)))
        var sd: Fingerprint = null
        Seq(
          Op("delta.files", () => {
            probe.call("delta.files")(DeltaLite.files(spark, delta).collect())
            sd = analyze(DeltaLite.read(spark, delta))
            true
          }),
          Op("iceberg.files", () => {
            probe.call("iceberg.files")(IcebergLite.files(spark, iceberg).collect())
            sd != null && analyze(IcebergLite.read(spark, iceberg)) == sd
          }))
    }

    /** The final tables must equal the last-write-wins replay of the write
      * steps that ran, computed here with plain DataFrame operations. */
    def verify(): Seq[(String, Boolean)] = {
      import spark.implicits._
      val base = Gen.orders(spark, seed, rows).withColumn("seq", lit(0)).withColumn("del", lit(false))
      val ran = executed.filter(_.bands.nonEmpty)
        .map(s => (s.index, s.index + 1, s.kind == "delete")).toSeq.toDF("batch", "seq", "del")
      val events = spark.read.parquet(batchDir).join(ran, "batch").drop("batch")
        .unionByName(base)
      val replay = events
        .withColumn("rn", row_number().over(Window.partitionBy(Key).orderBy(desc("seq"))))
        .where(col("rn") === 1 && !col("del"))
        .drop("rn", "seq", "del")
      val want = Fingerprint.of(replay)
      Seq("delta_equals_replay" -> (Fingerprint.of(DeltaLite.read(spark, delta)) == want),
        "iceberg_equals_replay" -> (Fingerprint.of(IcebergLite.read(spark, iceberg)) == want))
    }
  }
}

object Lake {
  /** Rounds a run may reach. Set-up writes the batches of every one; a
    * 20 s run on two session cores reaches one, so a program up to about
    * three times faster still fills the timed phase before running out of
    * rounds. */
  val MaxRounds = 4
  /** Rows of the warm-up tables. */
  val WarmRows = 5000L
  val Files = 8
  val Key = "o_orderkey"
  val Keys = Seq(Key)

  val AnalyzeCols = Seq("o_orderkey", "o_custkey", "o_totalprice")

  /** A key band [first, first + n) whose rows take values from `valueSeed`. */
  final case class Band(first: Long, n: Long, valueSeed: Long)

  final case class Step(index: Int, kind: String, bands: Seq[Band])

  /** Step kinds cycle through a fixed pattern, one round per cycle, so
    * every round of every seed runs the same mix, both OPTIMIZE kinds
    * included; the seed draws the batch sizes, key bands, values and key
    * ranges, the versions read come from [[versionDraw]]. */
  val Pattern: Seq[String] = Seq("selectiveMerge", "files", "commit", "selectiveMerge",
    "changes", "delete", "readAsOf", "optimizeCompact", "selectiveMerge", "readWhere", "read",
    "optimizeZorder", "history")

  /** The MERGE steps of a round. */
  val MergesPerRound: Int = Pattern.count(_ == "selectiveMerge")

  /** The `i`-th uniform variate for picking versions to read: a
    * golden-ratio sequence, the same for every seed, so runs of every seed
    * read versions the same distance back (a random pick made one round's
    * time-travel read cost 0.3 s or 1.8 s by the seed); over many picks it
    * covers [0, 1) evenly. */
  def versionDraw(i: Int): Double = {
    val x = 0.35 + i * 0.6180339887498949
    x - math.floor(x)
  }

  /** `n` steps over a table whose keys are [0, rows). */
  def schedule(seed: Long, n: Int, rows: Long): Vector[Step] = {
    val rnd = new java.util.Random(seed)
    var next = rows
    /** Log-uniform over the `stratum`-th of `strata` equal parts of
      * [lo, lo * 10^decades]. */
    def size(lo: Double, decades: Double, stratum: Int = 0, strata: Int = 1) =
      math.round(lo * math.pow(10, decades * (stratum + rnd.nextDouble()) / strata))
    def band(n: Long) = (rnd.nextDouble() * (next - n)).toLong
    (0 until n).map { i =>
      val kind = Pattern(i % Pattern.size)
      val bands = kind match {
        case "selectiveMerge" =>
          // about 70 % updates of a key band, 30 % new keys; the k-th MERGE
          // of a round draws its size from the k-th part of the range, so
          // every round has a small, a middle and a large one
          val k = Pattern.take(i % Pattern.size).count(_ == "selectiveMerge")
          val n = size(10, 2.3, k, MergesPerRound)
          val nu = math.max(1L, math.round(n * 0.7))
          val ni = math.max(1L, n - nu)
          val bs = Seq(Band(band(nu), nu, rnd.nextLong()), Band(next, ni, rnd.nextLong()))
          next += ni
          bs
        case "commit" =>
          val n = size(10, 2)
          val b = Band(next, n, rnd.nextLong())
          next += n
          Seq(b)
        case "delete" =>
          val n = size(10, 1.7)
          Seq(Band(band(n), n, rnd.nextLong()))
        case _ => Nil
      }
      Step(i, kind, bands)
    }.toVector
  }
}
