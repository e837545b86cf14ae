package graft.engine

import java.nio.file.{Files, Paths}
import graft.config.SubsetConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point — the `direct_subset.py` equivalent
  * (/root/reference/direct_subset.py:20-66):
  *
  *   runMain graft.engine.SubsetRunner <config.json> <sourceDir> <outDir>
  *
  * A config path of `-` (or `--stdin`) reads the JSON config from stdin,
  * matching the reference's stdin mode (/root/reference/direct_subset.py:22-26).
  *
  * Reads the Parquet source catalog, runs the middle-out subsetter, applies
  * `pre_constraint_sql`/`post_subset_sql` against temp views of the output
  * (S13 arbitrary-SQL passthrough), writes the destination catalog, and
  * prints the per-table report (/root/reference/result_tabulator.py:6-22).
  */
object SubsetRunner {

  /** Resolve the config argument: `-`/`--stdin` → read all of `in`,
    * otherwise read the file at the given path.
    */
  def readConfigSource(configArg: String, in: java.io.InputStream = System.in): String =
    if (configArg == "-" || configArg == "--stdin")
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    else Files.readString(Paths.get(configArg))

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: SubsetRunner <config.json | - | --stdin> <sourceDir> <outDir>")
    val Array(configPath, sourceDir, outDir) = args
    val spark = graft.Session()
    try {
      val config = SubsetConfig.fromJson(readConfigSource(configPath))
      val result = run(spark, config, sourceDir)
      Catalog.save(result.dest, outDir)
      println(Report.render(Report.tabulate(result.source, result.dest)))
    } finally spark.stop()
  }

  final case class RunResult(
      source: Map[String, DataFrame],
      dest: Map[String, DataFrame])

  /** Programmatic entry: load → subset → post-SQL. */
  def run(spark: SparkSession, config: SubsetConfig, sourceDir: String): RunResult = {
    val source = Catalog.loadDir(spark, sourceDir)
    val subsetter = new Subsetter(config, source)
    subsetter.verbose = true
    var dest = timed("middle-out subset")(subsetter.run())

    // pre_constraint_sql / post_subset_sql run verbatim against the
    // destination (/root/reference/direct_subset.py:45-62). Tables are
    // exposed as temp views (dots → underscores for qualified names).
    if (config.preConstraintSql.nonEmpty || config.postSubsetSql.nonEmpty) {
      dest.foreach { case (t, df) =>
        df.createOrReplaceTempView(t.replace('.', '_'))
      }
      (config.preConstraintSql ++ config.postSubsetSql).foreach(spark.sql(_).collect())
    }
    RunResult(source, dest)
  }

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$label completed in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }
}
