package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSessionExtensionsProvider
import scala.jdk.CollectionConverters._

/** Pins the one session factory and the one function install: every graft
  * SQL function reaches every session through the service-loaded
  * [[GraftExtensions]], and no source file builds a session or registers a
  * function by hand.
  */
class SessionSpec extends SparkSpecBase {

  private val graftFunctions = Seq(
    "float_dot", "l2_sq", "l2_argmin_idx", "hamming", "first_chunk_within",
    "winnow_minima", "hilbert_pos", "md5_h1h2", "sorted_pairs",
    "deletion_variants", "edit_within_1", "simhash64",
    "bitmap_distinct", "graft_bloom_build", "graft_bloom_might_contain")

  test("a fresh newSession resolves every graft function without a register call") {
    // temp functions do not carry over into newSession; injected ones do
    val fresh = spark.newSession()
    val missing = graftFunctions.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved in newSession: $missing")
    assert(fresh.sql("SELECT hamming('1100', '1010')").head.getInt(0) == 2)
  }

  test("ServiceLoader finds GraftExtensions as a session extensions provider") {
    val providers = java.util.ServiceLoader.load(
      classOf[SparkSessionExtensionsProvider],
      Thread.currentThread.getContextClassLoader).iterator.asScala.toSeq
    assert(providers.exists(_.isInstanceOf[GraftExtensions]))
  }

  // the needles are split so this file does not match itself
  test("graft/Session.scala is the only source that builds a SparkSession") {
    assert(sourcesContaining("SparkSession" + ".builder") ==
      Seq("src/main/scala/graft/Session.scala"))
  }

  test("no source registers a temp function") {
    assert(sourcesContaining("createOrReplace" + "TempFunction").isEmpty)
  }
}
