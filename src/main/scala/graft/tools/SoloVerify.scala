package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dump SELECTED query keys + their oracle SQL in the same layout as
  * [[graft.Verify]] (dev tool, for `scripts/check_oracles.py` on a subset):
  * runMain graft.tools.SoloVerify <sfDir> <outDir> key [key…]
  */
object SoloVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val keys = args.drop(2)
    val spark = graft.Session()
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(keys.contains)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
