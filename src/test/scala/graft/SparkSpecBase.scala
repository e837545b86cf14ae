package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object-level lazy val —
  * ScalaTest instantiates suites in one JVM under sbt fork), built by the
  * same [[graft.Session]] factory the CLI and the bench use.
  */
object SparkSpecBase {
  lazy val spark: SparkSession = Session()
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
