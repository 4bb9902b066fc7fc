package graft

/** Survey of every DISTINCT cached relation the registered surface
  * materializes (deduped by CachedRDDBuilder, recursing into cache
  * builds and subqueries): its output schema, flagged when the cache
  * stores a heavy payload column. Scratch tool backing the
  * cache-width discipline design — run via
  * `sbt 'Test/runMain graft.CacheCensusDump'`. */
object CacheCensusDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpecBase.session
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val seen = ShuffleCensus.identitySet()
    val out = new StringBuilder
    ShuffleCensus.surface(spark, sfDir).census.foreach { case (name, plan) =>
      ShuffleCensus.cacheBuilds(plan, seen).foreach { cached =>
        val cols = cached.output.map(a => s"${a.name}:${a.dataType.simpleString.take(24)}")
        out ++= s"$name | ${cols.mkString(", ")}\n"
      }
    }
    println(out.toString)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/cache_census.txt"),
      out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
