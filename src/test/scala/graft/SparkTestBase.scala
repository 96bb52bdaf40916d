package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4, "graft-test")
  val sf: String = "/root/testdata/sf0.001"
  /** The sf0.1 fixture, next to [[sf]]. */
  val sf01: String = s"${new java.io.File(sf).getParent}/sf0.1"
}
