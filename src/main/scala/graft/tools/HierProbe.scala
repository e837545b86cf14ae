package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Production-dial SemDeDup scale probe (dev tool): times
  * [[graft.analytics.Similarity.semDedupKeep]] (flat, adaptive capped
  * nlist) and/or [[graft.analytics.Similarity.semDedupKeepHier]] (two-level,
  * adaptive top + maxCellPop=8192/subCells=16 defaults) on a vector corpus,
  * with task metrics — the measurement half of the past-the-cap decision
  * (VERDICT r17 #3). The REGISTERED semantic_dedup_hier key forces tiny
  * gate dials for oracle checking and is useless at 20M vectors; this tool
  * runs the dials a deployment would.
  *
  * `minSim` defaults to the deployment-realistic 0.90 (SemDeDup's paper
  * regime) rather than the gate keys' deliberately loose 0.30: on the
  * replica-built scale corpora, 0.30 passes ~26% of ALL candidate pairs
  * (measured: 1.03e9 pair rows at 2M vectors), so the connected-components
  * tail's INPUT is candidate-sized — a (corpus, threshold) property, not
  * an operator cost. `stage=pairs` measures the two quantizer levels +
  * leaf-keyed candidate scoring only (count of thresholded pairs);
  * `stage=full` adds the CC tail and counts the keep set.
  *
  *   runMain graft.tools.HierProbe <dir> [flat|hier|both=hier] [minSim=0.90] [full|pairs=full]
  */
object HierProbe {
  private final class L extends SparkListener {
    val runMs, cpuNs, spillB, tasks = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.incrementAndGet()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = if (args.length > 1) args(1) else "hier"
    val minSim = if (args.length > 2) args(2).toDouble else 0.90
    val stage = if (args.length > 3) args(3) else "full"
    val spark = graft.Session()
    val l = new L
    spark.sparkContext.addSparkListener(l)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def run(name: String)(body: => Long): Unit = {
      val (r0, c0, s0, t0) = (l.runMs.get, l.cpuNs.get, l.spillB.get, l.tasks.get)
      val w0 = System.nanoTime()
      val rows = body
      println(f"HIERPROBE $name%-6s wall=${(System.nanoTime() - w0) / 1e9}%8.1fs " +
        f"rows=$rows%9d taskRun=${(l.runMs.get - r0) / 1000}%7ds " +
        f"taskCpu=${(l.cpuNs.get - c0) / 1000000000}%7ds " +
        f"spill=${(l.spillB.get - s0) / (1 << 20)}%6dMB tasks=${l.tasks.get - t0}%6d")
    }
    import graft.analytics.Similarity
    val label = s"${if (stage == "pairs") "p" else "f"}@$minSim"
    // the flat path has no pairs-only variant — it always runs the full
    // semDedupKeep (CC tail included), so its row is labeled f@ even in
    // stage=pairs mode; comparing hier-p@ to flat-f@ compares a stage to a
    // pipeline, on purpose and now visibly
    if (mode == "flat" || mode == "both")
      run(s"flat-f@$minSim")(
        Similarity.semDedupKeep(emb, minSim = minSim).count())
    if (mode == "assign") {
      // quantizer build + full-corpus nearest-cell assignment only — the
      // stage the codegen argmin kernel owns; the probe returns per-cell
      // populations, so rows = populated cells and the argmin cannot be
      // column-pruned out of the count
      run(s"assign@n")(Similarity.semDedupAssignProbe(emb).count())
    }
    if (mode == "hier" || mode == "both") {
      if (stage == "pairs")
        run(s"hier-$label")(Similarity.semDedupHierLeafPairs(emb,
          topCells = -1, maxCellPop = 4096L, subCells = 16, iters = 2,
          trainMod = 4, minSim = minSim,
          materialize = graft.engine.Materialize.local).count())
      else
        run(s"hier-$label")(
          Similarity.semDedupKeepHier(emb, minSim = minSim).count())
    }
    spark.stop()
  }
}
