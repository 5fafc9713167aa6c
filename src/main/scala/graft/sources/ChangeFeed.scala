package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The shared NET-DIFF → CDF classifier under both formats' `changes()`:
  * given the two sides of a snapshot diff (each already restricted to
  * the files whose visibility changed), cancel rows present on both
  * sides and classify the surplus per key into the CDF `_change_type`
  * vocabulary (insert / delete / update_preimage / update_postimage).
  *
  * The cancellation is a SYMMETRIC MULTISET DIFF computed as one
  * count-aggregation over a side-tagged union — each side is scanned
  * ONCE and the one shuffle carries partially-aggregated (row, side
  * counts) tuples. The previous `a.exceptAll(b)` + `b.exceptAll(a)`
  * shape scanned each side TWICE and shuffled twice; on the heavy CDC
  * queries that's the dominant cost at scale. Multiplicity semantics
  * are exceptAll's exactly: a row value surplus of k on a side emits k
  * copies (`explode(sequence)`), and null fields compare equal (groupBy
  * null bucketing == exceptAll's null-safe comparison).
  */
private[graft] object ChangeFeed {

  /** Both formats' net-diff `changes()` tail: project each side to the
    * TO `schema` (additive evolution between the versions null-fills the
    * columns the old side lacks), [[classify]], and stamp
    * `_commit_version` when asked.
    */
  def netDiff(newSide: DataFrame, oldSide: DataFrame, schema: StructType,
              keys: Seq[String], commitVersion: Option[Long]): DataFrame = {
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(schema.fields.toSeq.map { fld =>
        if (have.contains(fld.name)) col(s"`${fld.name}`")
        else lit(null).cast(fld.dataType).as(fld.name)
      }: _*)
    }
    val out = classify(aligned(newSide), aligned(oldSide), keys,
      schema.fieldNames.toSeq)
    commitVersion.fold(out)(v => out.withColumn("_commit_version", lit(v)))
  }

  def classify(newSide: DataFrame, oldSide: DataFrame, keys: Seq[String],
               dataCols: Seq[String]): DataFrame = {
    val cols = dataCols.map(c => col(s"`$c`"))
    val counts = newSide.withColumn("__side", lit(1))
      .unionByName(oldSide.withColumn("__side", lit(-1)))
      .groupBy(cols: _*)
      .agg(sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__nn"),
        sum(when(col("__side") === -1, 1L).otherwise(0L)).as("__no"))
    def surplus(a: String, b: String): DataFrame = counts
      .filter(col(a) > col(b))
      .withColumn("__dup", explode(sequence(lit(1L), col(a) - col(b))))
      .select(cols: _*)
    val changedNew = surplus("__nn", "__no")
    val changedOld = surplus("__no", "__nn")
    val o = changedOld.select(keys.map(col) :+
      struct(cols: _*).as("_o"): _*)
    val n = changedNew.select(keys.map(col) :+
      struct(cols: _*).as("_n"): _*)
    val joined = o.join(n, keys, "full_outer")
    val tagged = joined.select(explode(
      when(col("_o").isNotNull && col("_n").isNotNull, array(
        struct(col("_o").as("row"), lit("update_preimage").as("_change_type")),
        struct(col("_n").as("row"), lit("update_postimage").as("_change_type"))))
      .when(col("_n").isNotNull, array(
        struct(col("_n").as("row"), lit("insert").as("_change_type"))))
      .otherwise(array(
        struct(col("_o").as("row"), lit("delete").as("_change_type"))))
    ).as("c"))
    tagged.select(dataCols.map(c => col(s"c.row.`$c`").as(c)) :+
      col("c._change_type").as("_change_type"): _*)
  }
}
