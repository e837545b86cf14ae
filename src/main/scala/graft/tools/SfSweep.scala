package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale-probe sweep (dev tool): time a set of headline query keys against
  * one sf directory with per-key task metrics, two reps each (rep 1 cold /
  * rep 2 warm), after an accounted setup phase (pinned relations + on-disk
  * ANN index) — the measurement half of the sf0.1 → sf1 scaling evidence
  * recorded in STATUS.md. Healthy = wall grows ~linearly with the data
  * (modulo fixed per-query overheads), spill stays 0, and no key's task
  * count explodes superlinearly.
  *
  *   runMain graft.tools.SfSweep <sfDir> [key ...]
  */
object SfSweep {
  // package-visible so SfSweepKeysSpec can gate renames at test time
  // (r17's two stale names were only caught when a sweep run errored)
  private[graft] val defaultKeys = Seq(
    "q1_pricing_summary", "q9_product_profit", "q18_order_quantity",
    "subset_out_orders", "subset_out_lineitem",
    "minhash_verified_pairs", "containment_pairs", "neardup_components",
    "semantic_dedup_apply_probe", "cosine_topk_ivfpq_probe",
    "heavy_hitters_cms", "hilbert_events", "events_session",
    "dedup_exact", "text_quality", "corpus_build_e2e")

  private final class L extends SparkListener {
    val runMs, cpuNs, gcMs, spillB, shufB, tasks = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shufB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        tasks.incrementAndGet()
      }
    }
    def snap: (Long, Long, Long, Long, Long, Long) =
      (runMs.get, spillB.get, shufB.get, tasks.get, cpuNs.get, gcMs.get)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keys =
      if (args.length > 1 && args(1) == "ALL")
        graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else defaultKeys.filter(graft.SparkEntry.queries.contains)
    val spark = graft.Session()
    val l = new L
    spark.sparkContext.addSparkListener(l)

    val t0 = System.nanoTime()
    graft.queries.ExtensionQueries.prebuildPinned(spark, dir,
        forKeys = Some(keys.toSet))
      .foreach { case (n, s) => println(f"SETUP pin $n%-16s ${s}%6.1fs") }
    // single-table fixture dirs (DocScaleUp's doc5m, VecScaleUp's vec*)
    // lack the other tables — build the ANN index only where vectors exist
    if (new java.io.File(s"$dir/embeddings.parquet").exists())
      graft.analytics.Similarity.ivfPqIndexBuildIfStale(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        graft.analytics.Similarity.defaultIndexDir(dir) + "/ivfpq",
        trainMod = 4)
    println(f"SETUP total ${(System.nanoTime() - t0) / 1e9}%.1fs  dir=$dir")

    keys.foreach { k =>
      val fn = graft.SparkEntry.queries(k)
      val reps = (1 to 2).map { _ =>
        val b = l.snap
        val s0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - s0) / 1e9
        val a = l.snap
        (sec, rows, a._1 - b._1, (a._2 - b._2) / (1 << 20),
          (a._3 - b._3) / (1 << 20), a._4 - b._4,
          (a._5 - b._5) / 1000000, a._6 - b._6)
      }
      val (s1, rows, run1, spill1, shuf1, tk1, cpu1, gc1) = reps(0)
      val (s2, _, _, _, _, _, cpu2, _) = reps(1)
      println(f"SWEEP $k%-28s rep1=${s1}%7.2fs rep2=${s2}%7.2fs " +
        f"rows=$rows%9d taskRun=${run1}%7dms taskCpu=${cpu1}%7dms " +
        f"cpu2=${cpu2}%7dms gc=${gc1}%5dms spill=${spill1}%5dMB " +
        f"shufW=${shuf1}%6dMB tasks=$tk1%5d")
      // untimed, pressure-gated GC hint (see Bench.maybeGc: unconditional
      // full GC unloads codegen classes and re-JITs every later key)
      graft.Bench.maybeGc()
    }
    spark.stop()
  }
}
