package perfbench

import java.nio.file.{Files, Paths}

/** Turns the ops of a run into the benchmark's metrics and run record. */
object Results {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Harrell–Davis estimate of the median: a weighted sum of all order
    * statistics, weighted by a Beta((n+1)/2, (n+1)/2) distribution over
    * their ranks. Unlike the middle sample it does not jump across a gap
    * between neighbouring values, as it does in `ops_mix`, whose keys fall
    * into clusters of similar cost.
    */
  def hdMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  /** Expected `ops_mix` results: key -> (rows, fingerprint). */
  def loadExpected(path: String): Map[String, (Long, String)] = {
    import org.json4s._
    val root = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path)))
    root match {
      case JObject(fields) => fields.map { case (k, v) =>
        val JInt(rows) = v \ "rows": @unchecked
        val JString(fp) = v \ "fingerprint": @unchecked
        k -> ((rows.toLong, fp))
      }.toMap
      case _ => Map.empty
    }
  }

  /** Metrics of the run (end-to-end when untraced, per-layer when traced)
    * plus the run record: settings, host-noise readings, per-op summaries
    * and, when traced, the spans.
    */
  def record(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      setupS: Double, loopS: Double, sourceRows: Long, ops: Seq[OpRec],
      settings: Seq[(String, String)], hostStart: Map[String, Any],
      hostEnd: Map[String, Any]): Map[String, Any] = {
    val failed = ops.count(_.problems.nonEmpty)
    val ok = ops.filter(_.problems.isEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s_p50", hdMedian(ok.map(_.wallS)), "s"),
          ("ops_per_s", ok.size / ops.map(_.wallS).sum, "ops/s"),
          // cost adds up over a mix of light and heavy keys: the mean, not
          // a median that jumps between neighbouring keys
          ("task_cpu_s", ok.map(_.taskCpuS).sum / ok.size, "s"))
      } else {
        val traced = ok.filter(_.traced)
        val layerVals = Layers.Names.flatMap { l =>
          Layers.Metrics.map { case (m, u) =>
            // per op: the sum over that op's calls into the layer
            val perOp = traced.map(o => o.spans.indices
              .filter(i => o.spans(i).name == l).map(i => o.layerMetrics(i)(m)).sum)
            (s"$l.$m", median(perOp), u)
          }
        }
        val untracedWall = hdMedian(ok.filterNot(_.traced).map(_.wallS))
        val tracedWall = hdMedian(traced.map(_.wallS))
        layerVals ++ Seq(
          ("op.wall_s_p50", tracedWall, "s"),
          ("op.tracing_overhead_s", tracedWall - untracedWall, "s"),
          ("op.span_coverage", traced.map(o => o.spans.map(_.wallS).sum / o.wallS).minOption
            .getOrElse(Double.NaN), "ratio"),
          ("op.scan_amplification",
            median(traced.map(_.layerMetrics.map(_("input_rows")).sum / sourceRows)), "ratio"),
          ("op.peak_storage_mb", median(traced.map(_.peakStorageMb)), "MB"),
          ("op.retained_mb", median(traced.map(_.retainedMb)), "MB"))
      }
    val spans: Seq[Map[String, Any]] = ops.filter(_.traced).flatMap { o =>
      val opSpan = s"op${o.id}"
      Map[String, Any]("name" -> o.label, "id" -> opSpan, "parent" -> null,
        "op" -> o.id, "start_ms" -> o.startMs, "end_ms" -> o.endMs) +:
        (o.spans.zipWithIndex.map { case (s, i) =>
          Map[String, Any]("name" -> s.name, "id" -> s"$opSpan.$i", "parent" -> opSpan,
            "op" -> o.id, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "self_s" -> o.layerMetrics(i)("self_s"))
        } ++ o.jobSpans.flatMap { j =>
          Layers.spanOf(o.spans, j.startMs).map(i => Map[String, Any](
            "name" -> s"job ${j.jobId}", "id" -> s"$opSpan.$i.job${j.jobId}",
            "parent" -> s"$opSpan.$i", "op" -> o.id, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs))
        })
    }
    Map(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "run" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "loop_s" -> loopS, "source_rows" -> sourceRows,
        "session_settings" -> settings.toMap,
        "host_start" -> hostStart, "host_end" -> hostEnd,
        "ops" -> ops.map(o => Map(
          "id" -> o.id, "label" -> o.label, "traced" -> o.traced, "wall_s" -> o.wallS,
          "task_cpu_s" -> o.taskCpuS, "peak_storage_mb" -> o.peakStorageMb,
          "retained_mb" -> o.retainedMb, "problems" -> o.problems))),
      "spans" -> spans)
  }
}
