package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** One partition, rows sorted by every orderable column in schema
    * order, so two dumps of the same rows hold byte-identical data
    * pages (`tools/dump_diff.py` compares them; parquet-mr orders each
    * footer's encoding list per JVM). Only map columns (not orderable)
    * are left out of the key. */
  def sortedSingle(df: DataFrame): DataFrame = {
    val keys = df.schema.fields.toSeq
      .filter(f => RowOrdering.isOrderable(f.dataType))
      .map(f => col("`" + f.name.replace("`", "``") + "`"))
    if (keys.isEmpty) df.coalesce(1) else df.coalesce(1).sortWithinPartitions(keys: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Iteration aid, same contract as Bench: SPARK_GRAFT_ONLY="a,b"
    // restricts the dump (and the oracle manifest, so check_oracle
    // sees a consistent subset). The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try sortedSingle(fn(spark, sfDir)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    graft.operators.Dedup.clearCaches()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(spark, sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
