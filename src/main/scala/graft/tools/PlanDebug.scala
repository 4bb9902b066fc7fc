package graft.tools

/** Plan inspector behind the PLANS.md review workflow: executes each
  * named SparkEntry query, then prints its formatted physical plan, so
  * AQE's final plan and the initial plan both show. Not part of the
  * driver contract — plan SHAPE assertions live in the specs.
  * Usage: runMain graft.tools.PlanDebug <sfDir> <query>...
  */
object PlanDebug {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDebug <sfDir> <query>...")
    val dir = args(0)
    val spark = graft.Session.local(8, "graft-plan-debug")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1)) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      // Run this Dataset's own QueryExecution (df.count() would plan a
      // new one): that is what finalizes the AQE plan printed below.
      df.queryExecution.toRdd.count()
      println(s"==== $name ====")
      df.explain("formatted")
    }
    spark.stop()
  }
}
