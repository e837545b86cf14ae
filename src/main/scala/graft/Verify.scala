package graft
import java.nio.file.{Files, Paths}
import graft.engine.Catalog
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Key-parity gate (VERDICT r13 #6): every declared query must carry an
    // oracle and every oracle a query, so a future key addition cannot
    // silently ship unverified (a missing oracle downgrades the driver's
    // check to rows-only with no visible signal). Keys that are
    // INTENTIONALLY rows-only must be listed in SPARK_GRAFT_ROWS_ONLY.
    locally {
      val rowsOnlyOk = sys.env.getOrElse("SPARK_GRAFT_ROWS_ONLY", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
      val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyOk
      val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      println(s"[verify] key parity: queries=${SparkEntry.queries.size} " +
        s"oracles=${SparkEntry.oracleSql.size}")
      if (missing.nonEmpty || orphan.nonEmpty) {
        if (missing.nonEmpty)
          System.err.println("[verify] FATAL keys with no oracle: " +
            missing.toSeq.sorted.mkString(","))
        if (orphan.nonEmpty)
          System.err.println("[verify] FATAL oracles with no query: " +
            orphan.toSeq.sorted.mkString(","))
        spark.stop()
        sys.exit(2)
      }
    }
    // Optional comma-separated key filter for local iteration; the driver
    // leaves it unset and dumps every key.
    val only = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // row echo off the written (tiny, single-file) snapshot — visible
        // zero-row results are a first-line diagnostic in the driver log
        val n = Catalog.rowCount(Catalog.read(spark, s"$outDir/$name"))
        println(s"[verify] $name rows=$n")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
