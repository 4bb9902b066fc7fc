package graft

import org.apache.spark.sql.SparkSession

/** The local session graft's entry points run on: `local[cores]`,
  * `cores` shuffle partitions, UTC and no UI, with graft installed
  * ([[graft.plans.GraftFunctions.install]]). */
object Session {
  def local(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.GraftFunctions.install(spark)
    spark
  }
}
