package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. sf0.001 keeps table-backed
  * tests under a second each; plan-shape assertions use explain
  * output (the same thing a human would read to vet the plan). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** The registered surface at `sfDir`, as the shared walk recorded it. */
  def surface: ShuffleCensus.Surface = ShuffleCensus.surface(spark, sfDir)

  def withConf[A](settings: (String, String)*)(body: => A): A =
    SparkSpecBase.withConf(spark, settings: _*)(body)

  /** Driver-side md5 hex — the repo's md5-only hashing rule makes this
    * the single most-reused reference helper across specs. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Whether a plan reachable from `plan` (subqueries and cache builds
    * included) sums with a [[graft.plans.DecimalSum]]. */
  def sumsOnLongs(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    ShuffleCensus.reachable(plan).exists(_.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.DecimalSum]))))

  def explainString(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  /** Run `f` with a fresh temp dir and delete it afterwards — repeated
    * test runs must not accumulate scratch data under /tmp. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = Session.local(4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `settings` set in the session conf, then put back
    * each key's previous value. */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val saved = settings.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
