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

  /** The `.scala` files under `src/main/scala` and `src/test/scala` whose
    * text contains `needle`.
    */
  protected def sourcesContaining(needle: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val roots = Seq("src/main/scala", "src/test/scala").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r), s"$r not found"))
    roots.flatMap { root =>
      val files = java.nio.file.Files.walk(root)
      try files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(_.toString)
        .toList
      finally files.close()
    }
  }
}
