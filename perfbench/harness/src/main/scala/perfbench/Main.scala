package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark process. One JVM per run:
  *
  *   Main prepare <workDir>
  *   Main run <workload> <seed> <seconds> <trace 0|1> <workDir> <expectedFile> <resultFile>
  *   Main expect <workDir> <expectedFile>
  *
  * `prepare` generates the source catalog once; `run` sets up a session,
  * warms it, runs ops in a closed loop (one client, one op at a time) for
  * `seconds`, checks every op's output and writes the metrics, run metadata
  * and (traced) spans as JSON; `expect` records the `ops_mix` row counts and
  * fingerprints that `run` checks against.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: work :: Nil => prepare(work)
    case "run" :: workload :: seed :: seconds :: trace :: work :: expected :: result :: Nil =>
      val rec = Runner(workload, seed.toLong, seconds.toInt, trace == "1",
        baseDir(work), s"$work/out", expected).run()
      Files.writeString(Paths.get(result),
        org.json4s.jackson.Serialization.write(rec)(org.json4s.DefaultFormats))
    case "expect" :: work :: out :: Nil =>
      val spark = Sessions.bench()
      try recordExpected(spark, baseDir(work), out) finally spark.stop()
    case _ =>
      System.err.println("usage: Main prepare <work> | run <workload> <seed> " +
        "<seconds> <trace> <work> <expected> <result> | expect <work> <out>")
      sys.exit(2)
  }

  def baseDir(work: String): String = s"$work/data/sf${Workloads.BaseScale}"

  /** Generate the source catalog; reuse a complete one. */
  def prepare(work: String): Unit =
    if (!Fixture.isComplete(baseDir(work))) {
      val spark = Sessions.bench()
      try Fixture.generate(spark, Workloads.BaseScale, baseDir(work))
      finally spark.stop()
    }

  /** Row count and fingerprint of every `ops_mix` key over `dir`, written
    * as the JSON object [[Results.loadExpected]] reads.
    */
  def recordExpected(spark: SparkSession, dir: String, out: String): Unit = {
    val lines = Workloads.OpsMixKeys.sorted.map { k =>
      val df = graft.SparkEntry.queries(k)(spark, dir)
      val fp = Workloads.fingerprintColumns(df)
      val r = df.agg(fp.head, fp.tail: _*).head()
      s"""  "$k": {"rows": ${r.getLong(0)}, "fingerprint": "${r.getString(1)}"}"""
    }
    Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** The two session configurations the workloads run under. */
object Sessions {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Exactly the settings `graft.engine.SubsetRunner.main` builds, with its
    * master and shuffle width set to this host's core count.
    */
  def subsetSettings: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "graft-subset",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Exactly the settings `graft.Bench.main` builds. */
  def benchSettings: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.ui.enabled" -> "false")

  def build(settings: Seq[(String, String)]): SparkSession = {
    val spark = settings.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def bench(): SparkSession = build(benchSettings)

  def settingsFor(workload: String): Seq[(String, String)] =
    if (workload == "ops_mix") benchSettings else subsetSettings
}
