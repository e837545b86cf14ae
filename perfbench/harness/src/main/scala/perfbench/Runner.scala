package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.config.SubsetConfig
import graft.engine.{Catalog, Report, SubsetRunner}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** One measured op: its wall time and what the probe saw during it. */
final case class OpRec(
    id: Int, label: String, traced: Boolean, startMs: Long, endMs: Long,
    wallS: Double, taskCpuS: Double, peakStorageMb: Double, retainedMb: Double,
    spans: Seq[LayerSpan], jobSpans: Seq[JobRec], layerMetrics: Seq[Map[String, Double]],
    problems: Seq[String])

/** One benchmark run of a workload; see [[Main]].
  *
  * `subset_closure` makes [[Workloads.SubsetOps]] ops; `ops_mix` makes one
  * pass over its keys. Either keeps going while less than `seconds` have
  * been measured. A traced run makes twice the work and traces every other
  * op (in `ops_mix`, each key once traced and once not), so the run itself
  * reads the tracing overhead.
  */
final case class Runner(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    srcDir: String, outDir: String, expectedFile: String) {
  require(Workloads.Names.contains(workload), s"unknown workload $workload")

  private val probe = new Probe
  private val ops = mutable.ArrayBuffer.empty[OpRec]

  def run(): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val settings = Sessions.settingsFor(workload)
    val spark = Sessions.build(settings)
    try {
      probe.install(spark)
      warmUp(spark)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val hostStart = hostNoise(spark)
      val srcCounts = Catalog.loadDir(spark, srcDir).map { case (t, df) => t -> df.count() }
      val t0 = System.nanoTime()
      def elapsed: Double = (System.nanoTime() - t0) / 1e9
      val rounds = if (trace) 2 else 1
      workload match {
        case "ops_mix" =>
          val expected = Results.loadExpected(expectedFile)
          val rank = Workloads.OpsMixKeys.sorted.zipWithIndex.toMap
          var pass = 0
          while (pass < rounds || elapsed < seconds) {
            Workloads.keyOrder(seed, pass).foreach { k =>
              keyOp(spark, k, trace && (rank(k) + pass) % 2 == 0, expected)
            }
            pass += 1
          }
        case "subset_closure" =>
          val cfgJson = Workloads.closureConfigJson(seed)
          while (ops.size < rounds * Workloads.SubsetOps || elapsed < seconds)
            subsetOp(spark, cfgJson, trace && ops.size % 2 == 0, srcCounts)
      }
      val loopS = elapsed
      val hostEnd = hostNoise(spark)
      if (workload == "subset_closure") {
        // the closure is fixed by the seed: derive its counts once, after
        // the timed loop, and hold every op to them
        val want = Checks.closureCounts(spark, Catalog.loadDir(spark, srcDir), seed)
        ops.indices.foreach { i =>
          val got = written.getOrElse(ops(i).id, Map.empty)
          val bad = want.toSeq.sorted.collect { case (t, n) if !got.get(t).contains(n) =>
            s"$t has ${got.get(t)} rows, closure SQL gives $n" }
          ops(i) = ops(i).copy(problems = ops(i).problems ++ bad)
        }
      }
      Results.record(workload, seed, seconds, trace, setupS, loopS, srcCounts.values.sum,
        ops.toSeq, settings, hostStart, hostEnd)
    } finally spark.stop()
  }

  /** Untimed warm-up on the catalog the timed ops read, so the JVM, JIT
    * and codegen caches are warm before timing: one pass over the keys
    * (`ops_mix`), or [[Workloads.SubsetWarmOps]] subset jobs of the run's
    * own config (`subset_closure`). A warm-up on a smaller catalog left the
    * first timed pass ~25 % slower than the passes after it.
    */
  private def warmUp(spark: SparkSession): Unit = workload match {
    case "ops_mix" =>
      Workloads.OpsMixKeys.foreach { k =>
        graft.SparkEntry.queries(k)(spark, srcDir).write.format("noop").mode("overwrite").save()
        release(spark)
      }
    case "subset_closure" =>
      val out = s"$outDir/warm"
      (1 to Workloads.SubsetWarmOps).foreach { _ =>
        val res = SubsetRunner.run(spark, SubsetConfig.fromJson(Workloads.closureConfigJson(seed)), srcDir)
        Catalog.save(res.dest, out)
        Report.tabulate(res.source, res.dest)
        release(spark)
        Runner.deleteTree(Paths.get(out))
      }
  }

  /** Load average, the host's cumulative steal time, and a fixed
    * one-partition CPU job (the shape of `graft.Bench`'s single-partition
    * canary), so a contended run identifies itself. Run metadata, not
    * metrics; /proc readings are absent on hosts without /proc.
    */
  private def hostNoise(spark: SparkSession): Map[String, Any] = {
    def proc(f: String): Seq[String] = scala.util.Try(
      new String(Files.readAllBytes(Paths.get("/proc", f))).trim.split("\\s+").toSeq)
      .getOrElse(Nil)
    // /proc/stat: cpu user nice system idle iowait irq softirq steal ...
    val steal = proc("stat").lift(8).flatMap(_.toLongOption)
    val t0 = System.nanoTime()
    spark.range(0L, Runner.CanaryRows, 1L, 1).select(bit_xor(xxhash64(col("id")))).head()
    Map("loadavg" -> proc("loadavg").take(3), "steal_jiffies" -> steal.orNull,
      "canary1_ms" -> (System.nanoTime() - t0) / 1e6, "canary1_rows" -> Runner.CanaryRows)
  }

  /** Drops every cached and checkpointed block, so each op starts empty. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Runs `body` as one call into layer `name`, recording its window. */
  private def layer[T](spans: mutable.ArrayBuffer[LayerSpan], name: String)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans += LayerSpan(name, startMs, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
  }

  /** Measures one op: `body` runs inside the timed window; the probe is
    * drained and read after it. Returns what `body` returned, unless it threw.
    */
  private def measure[T](spark: SparkSession, label: String, traced: Boolean)(
      body: mutable.ArrayBuffer[LayerSpan] => T): (Option[T], OpRec) = {
    probe.drain(spark)
    probe.tracing = traced
    probe.clearTrace()
    probe.resetPeak()
    val storage0 = probe.storageBytes
    val cpu0 = probe.cpuSeconds
    val spans = mutable.ArrayBuffer.empty[LayerSpan]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (out, err) =
      try (Some(body(spans)), None)
      catch { case e: Exception => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    probe.drain(spark)
    probe.tracing = false
    val layerMetrics =
      if (traced) Layers.attribute(spans.toSeq, probe.jobs.toSeq, probe.tasks.toSeq,
        probe.phases.toSeq, probe.storageSamples.toSeq, storage0)
      else Nil
    val rec = OpRec(ops.size, label, traced, startMs, endMs, wallS, probe.cpuSeconds - cpu0,
      probe.peakBytes / Layers.MB, probe.storageBytes / Layers.MB, spans.toSeq,
      if (traced) probe.jobs.toSeq else Nil, layerMetrics, err.toSeq)
    (out, rec)
  }

  // row counts each subset op wrote, checked against the closure SQL
  private val written = mutable.HashMap.empty[Int, Map[String, Long]]

  /** `SubsetConfig.fromJson` → `SubsetRunner.run` → `Catalog.save` to a
    * fresh directory → `Report.tabulate`, then (untimed) the output checks.
    */
  private def subsetOp(spark: SparkSession, cfgJson: String, traced: Boolean,
      srcCounts: Map[String, Long]): Unit = {
    val dest = s"$outDir/op${ops.size}"
    val (res, rec) = measure(spark, workload, traced) { spans =>
      val cfg = SubsetConfig.fromJson(cfgJson)
      val result = layer(spans, "subset_run")(SubsetRunner.run(spark, cfg, srcDir))
      layer(spans, "catalog_save")(Catalog.save(result.dest, dest))
      val report = layer(spans, "report_tabulate")(Report.tabulate(result.source, result.dest))
      (cfg, report)
    }
    release(spark)
    val problems = res.toSeq.flatMap { case (cfg, report) =>
      val (counts, probs) = Checks.subsetProblems(spark, cfg, srcCounts, dest, report)
      written(rec.id) = counts
      probs
    }
    Runner.deleteTree(Paths.get(dest))
    ops += rec.copy(problems = rec.problems ++ problems)
  }

  /** The `graft.SparkEntry.queries` call, then a full evaluation into the
    * noop sink. The fingerprint aggregate rides along as an observation of
    * that same evaluation and is compared after the op.
    */
  private def keyOp(spark: SparkSession, key: String, traced: Boolean,
      expected: Map[String, (Long, String)]): Unit = {
    val obs = Observation(s"fp${ops.size}")
    val (_, rec) = measure(spark, key, traced) { spans =>
      val df = layer(spans, "query_build")(graft.SparkEntry.queries(key)(spark, srcDir))
      layer(spans, "query_exec") {
        val fp = Workloads.fingerprintColumns(df)
        df.observe(obs, fp.head, fp.tail: _*).write.format("noop").mode("overwrite").save()
      }
    }
    release(spark)
    val problems = if (rec.problems.nonEmpty) Nil else {
      val m = obs.get
      val got = (m("fp_rows").asInstanceOf[Long], String.valueOf(m("fp_hash")))
      if (expected.get(key).contains(got)) Nil
      else Seq(s"rows=${got._1} fingerprint=${got._2}, expected ${expected.get(key)}")
    }
    ops += rec.copy(problems = rec.problems ++ problems)
  }
}

object Runner {
  val CanaryRows: Long = 50L * 1000 * 1000

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
