package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of a result: the sum, modulo
  * 2^64, of one xxhash64 per row over the columns in name order. Floating
  * values are hashed at ten significant digits, so a different summation
  * order in an aggregate does not change the fingerprint. */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _)        => hasFloat(e)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
    case _                      => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => normalize(x, e))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Materialize `df` and fingerprint every row. */
  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.toIndexedSeq
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f, i) => normalize(col(s"c$i"), f.dataType) }
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val hashes = positional.select(rowHash).collect()
    Fingerprint(hashes.length, hashes.foldLeft(0L)(_ + _.getLong(0)))
  }
}
