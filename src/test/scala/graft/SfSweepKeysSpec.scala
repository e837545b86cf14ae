package graft

import org.scalatest.funsuite.AnyFunSuite

/** Key-name gates that need no Spark session: every key name a dev tool
  * carries as a default must exist in [[SparkEntry.queries]], so a key
  * rename fails here in CI instead of erroring mid-sweep (r17's sweep tool
  * carried two stale names that only surfaced when a scale run died on
  * them), and every query key has exactly one oracle.
  */
class SfSweepKeysSpec extends AnyFunSuite {

  test("every Trace default key is a declared SparkEntry query") {
    val stale = graft.tools.Trace.defaultKeys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty,
      s"Trace.defaultKeys carries stale key names: ${stale.mkString(", ")}")
  }

  test("queries and oracleSql declare the same key set") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"missing oracle: ${(q -- o).toSeq.sorted.mkString(", ")}; " +
      s"orphan oracle: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }
}
