package graft.tools

import graft.{SparkEntry, TaskMetrics}
import graft.engine.Catalog

/** Time query keys with their task metrics and Spark jobs (dev tool):
  *
  *   runMain graft.tools.Trace <sfDir> [ALL|key ...]
  *
  * Setup builds the pinned relations the keys read and, where the
  * directory has vectors, the on-disk ANN index, so no key absorbs a
  * one-time build. Each key then runs twice (rep 1 cold, rep 2 warm) and
  * prints one `SWEEP` line: both walls, rows, rep 1's task metrics
  * (`taskRun`, `taskCpu`, `gc`, `spill`, `shufW`, `tasks`), rep 2's task CPU
  * (`cpu2`), rep 1's job count (`jobs`) and rep 2's (`jobs2`). Below it, one
  * line per job of the warm rep (`jobs2` lines) gives its span from the
  * rep's start, its stage and task counts and its call site, so a
  * multi-job operator shows where its wall clock goes.
  * `scripts/ab_sweep_compare.py` diffs two logs. No keys runs
  * [[defaultKeys]]; `ALL` runs every key.
  */
object Trace {
  // package-visible so SfSweepKeysSpec gates renames at test time
  private[graft] val defaultKeys = Seq(
    "q1_pricing_summary", "q9_product_profit", "q18_order_quantity",
    "subset_out_orders", "subset_out_lineitem",
    "minhash_verified_pairs", "containment_pairs", "neardup_components",
    "semantic_dedup_apply_probe", "cosine_topk_ivfpq_probe",
    "heavy_hitters_cms", "hilbert_events", "events_session",
    "dedup_exact", "text_quality", "corpus_build_e2e")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keys = args.drop(1).toSeq match {
      case Seq() => defaultKeys
      case Seq("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case named => named
    }
    val spark = graft.Session()
    val metrics = TaskMetrics(spark)

    val t0 = System.nanoTime()
    graft.queries.ExtensionQueries.prebuildPinned(spark, dir,
        forKeys = Some(keys.toSet))
      .foreach { case (n, s) => println(f"SETUP pin $n%-16s ${s}%6.1fs") }
    // single-table fixture dirs (DocScaleUp's doc5m, VecScaleUp's vec*)
    // lack the other tables — build the ANN index only where vectors exist
    if (new java.io.File(s"$dir/embeddings.parquet").exists())
      graft.analytics.Similarity.ivfPqIndexBuildIfStale(
        Catalog.read(spark, s"$dir/embeddings.parquet"),
        graft.analytics.Similarity.defaultIndexDir(dir) + "/ivfpq",
        trainMod = 4)
    println(f"SETUP total ${(System.nanoTime() - t0) / 1e9}%.1fs  dir=$dir")

    val mb = 1L << 20
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      def rep(): (Double, Long, TaskMetrics.Snap, Long) = {
        val before = metrics.snap()
        val startMs = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - s0) / 1e9
        (sec, rows, metrics.snap() - before, startMs)
      }
      val (s1, rows, m1, _) = rep()
      val (s2, _, m2, start2) = rep()
      println(f"SWEEP $k%-28s rep1=${s1}%7.2fs rep2=${s2}%7.2fs " +
        f"rows=$rows%9d taskRun=${m1.runMs}%7dms " +
        f"taskCpu=${m1.cpuNs / 1000000}%7dms cpu2=${m2.cpuNs / 1000000}%7dms " +
        f"gc=${m1.gcMs}%5dms " +
        f"spill=${(m1.spillMemB + m1.spillDiskB) / mb}%5dMB " +
        f"shufW=${m1.shuffleWriteB / mb}%6dMB tasks=${m1.tasks}%5d " +
        f"jobs=${m1.jobs}%4d jobs2=${m2.jobs}%4d")
      m2.jobLog.foreach { j =>
        val s = (j.startMs - start2) / 1e3
        val e = (j.endMs - start2) / 1e3
        println(f"  job ${j.id}%5d  ${s}%7.2f -> ${e}%7.2f  (${e - s}%6.2fs) " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
      }
      // untimed, pressure-gated GC hint (see Bench.maybeGc: unconditional
      // full GC unloads codegen classes and re-JITs every later key)
      graft.Bench.maybeGc()
    }
    spark.stop()
  }
}
