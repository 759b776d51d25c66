package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one forked test JVM). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val ref: String = "/root/reference"
  /** The smallest contract scale factor's tables. */
  lazy val sf0001: String = "/root/testdata/sf0.001"

  /** Runs `body` on a child session (same SparkContext, own SQL conf)
    * that compiles every plan and expression and never falls back to
    * interpreted evaluation, so a failed compile fails the spec instead
    * of only logging at ERROR. The shared session's conf is untouched. */
  def codegenOnly[T](body: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    body(s)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
