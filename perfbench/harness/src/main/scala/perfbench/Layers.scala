package perfbench

/** One call into a layer during an op, timed from outside the program. */
final case class LayerSpan(name: String, startMs: Long, endMs: Long, wallS: Double)

/** Attribution of the probe's traced events to layer calls. A job belongs to
  * the layer call whose window holds its submission time; its tasks follow
  * it through their stage. Planning phases and storage samples are placed
  * by their own timestamps.
  */
object Layers {

  /** The layers, named after the entry point each one times. */
  val Names: Seq[String] = Seq(
    "subset_run", "catalog_save", "report_tabulate", "query_build", "query_exec")

  /** Per-layer metrics with their units. */
  val Metrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "task_run_s" -> "s",
    "task_gc_s" -> "s", "input_rows" -> "count", "input_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "output_mb" -> "MB", "storage_peak_mb" -> "MB", "plan_ms" -> "ms",
    "failed_tasks" -> "count")

  val MB: Double = 1024.0 * 1024.0

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Index of the span whose window holds `t`; the later span wins a tie. */
  def spanOf(spans: Seq[LayerSpan], t: Long): Option[Int] =
    spans.indices.reverse.find(i => spans(i).startMs <= t && t <= spans(i).endMs)

  /** Metrics per layer call of one traced op. `storageAtStart` is the block
    * storage held when the op began.
    */
  def attribute(
      spans: Seq[LayerSpan],
      jobs: Seq[JobRec],
      tasks: Seq[TaskRec],
      phases: Seq[PhaseRec],
      storageSamples: Seq[(Long, Long)],
      storageAtStart: Long): Seq[Map[String, Double]] = {
    val jobSpan: Map[Int, Int] = jobs.flatMap(j => spanOf(spans, j.startMs).map(j.jobId -> _)).toMap
    val stageSpan: Map[Int, Int] = jobs.flatMap(j =>
      jobSpan.get(j.jobId).toSeq.flatMap(s => j.stageIds.map(_ -> s))).toMap
    spans.indices.map { i =>
      val sp = spans(i)
      val myJobs = jobs.filter(j => jobSpan.get(j.jobId).contains(i))
      val myTasks = tasks.filter(t => stageSpan.get(t.stageId).contains(i))
      val busyMs = coveredMs(tasks.map(t => (t.launchMs, t.finishMs)), sp.startMs, sp.endMs)
      val jobMs = coveredMs(myJobs.map(j => (j.startMs, if (j.endMs < 0) sp.endMs else j.endMs)),
        sp.startMs, sp.endMs)
      val windowMs = (sp.endMs - sp.startMs).toDouble
      // storage held when the window opened: the last sample before it
      val atOpen = storageSamples.filter(_._1 < sp.startMs).lastOption.map(_._2)
        .getOrElse(storageAtStart)
      val inWindow = storageSamples.filter(s => s._1 >= sp.startMs && s._1 <= sp.endMs).map(_._2)
      val planMs = phases.filter(p => spanOf(spans, p.startMs).contains(i))
        .map(p => (p.endMs - p.startMs).toDouble).sum
      def sumT(f: TaskRec => Double): Double = myTasks.map(f).sum
      // wall is timed with nanoTime; the busy and job windows with the ms
      // clock Spark stamps its events with, so subtract them as shares
      val share = if (windowMs > 0) sp.wallS / windowMs else 0.0
      Map(
        "wall_s" -> sp.wallS,
        "driver_s" -> math.max(0.0, sp.wallS - busyMs * share),
        "self_s" -> math.max(0.0, sp.wallS - jobMs * share),
        "jobs" -> myJobs.size.toDouble,
        "tasks" -> myTasks.size.toDouble,
        "task_cpu_s" -> sumT(_.cpuNs / 1e9),
        "task_run_s" -> sumT(_.runMs / 1e3),
        "task_gc_s" -> sumT(_.gcMs / 1e3),
        "input_rows" -> sumT(_.inputRows.toDouble),
        "input_mb" -> sumT(_.inputBytes / MB),
        "shuffle_write_mb" -> sumT(_.shuffleWriteBytes / MB),
        "shuffle_read_mb" -> sumT(_.shuffleReadBytes / MB),
        "spill_mb" -> sumT(_.spillBytes / MB),
        "output_mb" -> sumT(_.outputBytes / MB),
        "storage_peak_mb" -> (atOpen +: inWindow).max / MB,
        "plan_ms" -> planMs,
        "failed_tasks" -> myTasks.count(_.failed).toDouble)
    }
  }
}
