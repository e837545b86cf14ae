package graft

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` factory: the CLI, the bench, the correctness dump,
  * the dev tools and the test suites all run on these settings. The graft
  * SQL functions arrive through the service-loaded
  * [[graft.functions.GraftExtensions]], in this session and in any other
  * session built on the classpath.
  *
  * Environment:
  *   - `SPARK_MASTER`: the master URL; default `local[<cores>]`.
  *   - `SPARK_GRAFT_CPUS`: the cores (and shuffle partitions); default the
  *     JVM's available processors.
  *   - `SPARK_GRAFT_CONF="key=value;key=value"`: extra confs applied on top
  *     of the settings below, so two runs can A/B one setting with
  *     everything else identical. Malformed segments (no '=', empty from a
  *     trailing ';') are skipped with a warning.
  */
object Session {

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def master: String = sys.env.getOrElse("SPARK_MASTER", s"local[$cores]")

  private def settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet may carry TIMESTAMP(NANOS), which Spark 4 rejects by
    // default; read it as a long and convert in EventTime.toNanos
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // CPU-bound analytic kernels (simhash/jaccard/minhash joins) are tiny
    // in BYTES but heavy per row; the default 1MB AQE coalesce floor
    // serializes them onto a handful of cores (measured 3x on
    // simhash_neardup_pairs_wide at sf0.1/local[32]). 64k keeps AQE's
    // empty-partition cleanup while letting parallelism win.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // Always use the sort shuffle writer, never the bypass-merge one:
    // bypass opens R partition files per MAP task, which for this
    // surface's many small exchanges is measured as the top executor frame
    // (FileOutputStream.open0 — thread-dump sampled on jaccard_prefix_pairs;
    // warm 2.4 s -> 1.4 s with the sort writer). At cluster scale R exceeds
    // the 200-partition bypass threshold anyway, so the sort writer is the
    // production code path; this stops a local run from measuring a writer
    // the deployment would never use.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.ui.enabled" -> "false")

  /** Parse `SPARK_GRAFT_CONF`-style overrides, warning on malformed ones. */
  private def overrides(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ =>
          System.err.println(s"[session] skipping malformed conf entry '$kv'")
          None
      }
    }

  /** Build (or return the running) session on the settings above. */
  def apply(): SparkSession = {
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(overrides)
    extra.foreach { case (k, v) => System.err.println(s"[session] $k=$v") }
    val spark = (settings ++ extra).foldLeft(
        SparkSession.builder().master(master).appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
