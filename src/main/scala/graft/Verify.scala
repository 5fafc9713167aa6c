package graft
import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Write the name → oracle SQL map as one JSON object. Jackson escapes
    * every control character: a tab or CR in oracle SQL must not make a
    * strict reader's json.load fail and silently zero the correctness
    * check. */
  private[graft] def writeOracleSql(file: File, sql: Iterable[(String, String)]): Unit = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    sql.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValue(file, node)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    new File(outDir).mkdirs()
    // Optional subset for local iteration (SparkEntry owns the contract);
    // unset or empty = full suite, which is what the driver runs.
    val only = SparkEntry.querySubset
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release operator-owned persists between dumps (see Bench)
      spark.catalog.clearCache()
    }
    // static oracles + the trained-model ones generated against this
    // session/sfDir (gated on the subset, so a subset dump trains
    // nothing it doesn't need); a training failure must not zero the
    // whole dump
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir,
        name => only.forall(_.contains(name)))
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracles failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    writeOracleSql(new File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql ++ dynamic)
    spark.stop()
  }
}
