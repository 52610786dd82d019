package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (never stopped — getOrCreate-shared
  * across suites within the forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.create("local[4]")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val Sf = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = GraftSession.tempDir(prefix)
}
