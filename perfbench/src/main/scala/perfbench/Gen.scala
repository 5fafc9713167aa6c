package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

/** Deterministic synthetic inputs, written as one parquet file per table.
  *
  * The tables have the names, column names and types that
  * `graft.Tables` loads (the TPC-H-like star schema plus `documents`,
  * `embeddings` and `events`), and the row counts and value distributions
  * of the scale-factor-0.1 test tables: 150 000 orders, 600 000 lineitems,
  * every column drawn independently and uniformly over the same domain
  * (the same part-name words, nation names and text vocabulary the queries
  * filter on), near-duplicate documents marked by an appended word, unit
  * embedding vectors around ten weak centroids, and exponential event
  * values. Every value is a pure function of (seed, stream, row id)
  * through `xxhash64`, so the same seed gives the same bytes on any
  * partitioning.
  */
object Gen {
  val Orders = 150000L
  val Lineitems = 600000L
  val Customers = 15000L
  val Parts = 20000L
  val Suppliers = 1000L
  val Documents = 5000L
  val Vectors = 2000L
  val Events = 100000L
  val Dims = 64

  /** Uniform double in [0, 1) from (seed, stream, key). */
  def u(seed: Column, stream: Int, key: Column): Column =
    pmod(xxhash64(seed, lit(stream), key), lit(1L << 40))
      .cast("double") / (1L << 40).toDouble

  def u(seed: Long, stream: Int, key: Column = col("id")): Column =
    u(lit(seed), stream, key)

  def below(seed: Column, stream: Int, n: Long, key: Column): Column =
    floor(u(seed, stream, key) * n).cast("long")

  def below(seed: Long, stream: Int, n: Long, key: Column = col("id")): Column =
    below(lit(seed), stream, n, key)

  private def pick(seed: Column, stream: Int, values: Seq[String],
                   key: Column): Column =
    element_at(array(values.map(lit): _*),
      (below(seed, stream, values.size, key) + 1).cast("int"))

  private def pick(seed: Long, stream: Int, values: Seq[String],
                   key: Column = col("id")): Column =
    pick(lit(seed), stream, values, key)

  private def daysAfter(start: String, days: Column): Column =
    date_add(to_date(lit(start)), days.cast("int"))
      .cast("timestamp_ntz")

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The `orders` columns for order key `key`, drawn from `seed`. */
  def orderCols(seed: Column, key: Column): Seq[Column] =
    Seq(key.as("o_orderkey"),
      below(seed, 1, Customers, key).as("o_custkey"),
      pick(seed, 2, Seq("F", "O", "P"), key).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 3, key) * 499000.0, 2).as("o_totalprice"),
      daysAfter("1995-01-01", below(seed, 4, 2404, key)).as("o_orderdate"),
      pick(seed, 5, Priorities, key).as("o_orderpriority"))

  def orders(s: SparkSession, seed: Long, rows: Long = Orders): DataFrame =
    s.range(rows).select(orderCols(lit(seed), col("id")): _*)

  /** Lines drawn independently of `orders`: an order holds any number of
    * lines, each with a uniform price, date and flags. */
  private def lineitem(s: SparkSession, seed: Long): DataFrame =
    s.range(Lineitems).select(
      below(seed, 10, Orders).as("l_orderkey"),
      below(seed, 11, Parts).as("l_partkey"),
      below(seed, 12, Suppliers).as("l_suppkey"),
      (below(seed, 9, 7) + 1).cast("int").as("l_linenumber"),
      (below(seed, 13, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(seed, 14) * 104100.0, 2).as("l_extendedprice"),
      round(u(seed, 15) * 0.1, 2).as("l_discount"),
      round(u(seed, 16) * 0.08, 2).as("l_tax"),
      pick(seed, 17, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 18, Seq("F", "O")).as("l_linestatus"),
      daysAfter("1995-01-02", below(seed, 19, 2498)).as("l_shipdate"))

  /** Texts of 10 to 99 words over a 30-word vocabulary. 5 % of documents
    * are near-duplicates: another document's words plus the word `dup`
    * (two that copy the same document are exact duplicates of each other),
    * so the dedup operators have near and exact duplicates to find. */
  private def documents(s: SparkSession, seed: Long): DataFrame = {
    val vocab = array(Words.map(lit): _*)
    val dup = u(seed, 20) < 0.05
    val src = when(dup, below(seed, 22, Documents)).otherwise(col("id"))
    val nWords = (below(seed, 21, 90, src) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), src, i), lit(Words.size.toLong)) + 1)
        .cast("int")))
    val base = array_join(words, " ")
    val text = when(dup, concat(base, lit(" dup"))).otherwise(base)
    val langIdx = u(seed, 24)
    s.range(Documents).select(col("id").as("doc_id"), text.as("text"),
        when(langIdx < 0.41, "en").when(langIdx < 0.5575, "es")
          .when(langIdx < 0.705, "zh").when(langIdx < 0.8525, "de")
          .otherwise("fr").as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** A standard normal draw (Box-Muller over two uniform streams). */
  private def normal(seed: Long, stream: Int, key: Column): Column =
    sqrt(log(lit(1.0) - u(seed, stream, key)) * -2.0) *
      cos(u(seed, stream + 1, key) * (2 * math.Pi))

  /** Ten labels in 64 dimensions: each vector is a Gaussian draw plus a
    * quarter of its label's Gaussian centroid, scaled to unit length, so
    * a label's vectors cluster only weakly. */
  private def embeddings(s: SparkSession, seed: Long): DataFrame = {
    val label = below(seed, 30, 10)
    val raw = transform(sequence(lit(0), lit(Dims - 1)), j =>
      normal(seed, 31, label * 100 + j) * 0.26 + normal(seed, 33, col("id") * 100 + j))
    // the norm gets its own projection so it is computed once per vector,
    // not once per element
    s.range(Vectors).select(col("id").as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** 30 days of events in id order, about 26 s apart with jitter. */
  private def events(s: SparkSession, seed: Long): DataFrame = {
    val stepUs = 30L * 86400L * 1000000L / Events
    val micros = lit(1704067200000000L) + col("id") * stepUs +
      below(seed, 40, stepUs)
    s.range(Events).select(col("id").as("event_id"),
      timestamp_micros(micros).cast("timestamp_ntz").as("ts"),
      below(seed, 41, 1500).as("user_id"),
      pick(seed, 42, EventTypes).as("event_type"),
      round(-log(lit(1.0) - u(seed, 43)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), below(seed, 44, 100).cast("string"), lit("}"))
        .as("props"))
  }

  def tables(s: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    import s.implicits._
    Seq(
      "region" -> Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
        (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "supplier" -> s.range(Suppliers).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        below(seed, 50, 25).cast("int").as("s_nationkey"),
        round(lit(-1000.0) + u(seed, 51) * 11000.0, 2).as("s_acctbal")),
      "customer" -> s.range(Customers).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        below(seed, 52, 25).cast("int").as("c_nationkey"),
        round(lit(-1000.0) + u(seed, 53) * 11000.0, 2).as("c_acctbal"),
        pick(seed, 54, Segments).as("c_mktsegment")),
      "part" -> s.range(Parts).select(col("id").as("p_partkey"),
        concat(pick(seed, 55, Adjectives), lit(" "), pick(seed, 56, Nouns)).as("p_name"),
        concat(lit("Brand#"), (below(seed, 57, 25) + 1).cast("string")).as("p_brand"),
        pick(seed, 58, PartTypes).as("p_type"),
        (below(seed, 59, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000).cast("double") / 10.0, 2)
          .as("p_retailprice")),
      "orders" -> orders(s, seed),
      "lineitem" -> lineitem(s, seed),
      "documents" -> documents(s, seed),
      "embeddings" -> embeddings(s, seed),
      "events" -> events(s, seed))
  }

  /** Write every table as a single parquet file under `dir`; the tables
    * are written concurrently, each by one single-task job. */
  def writeAll(s: SparkSession, seed: Long, dir: String): Unit =
    tables(s, seed).par.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
