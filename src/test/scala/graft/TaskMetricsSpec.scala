package graft

/** Pins the one task-metrics listener: a snapshot taken right after an
  * action counts all of that action's events (Spark delivers them
  * asynchronously, so this holds only because `snap` drains the bus), and
  * no other source defines a listener.
  */
class TaskMetricsSpec extends SparkSpecBase {

  test("snap after an action counts its one job and all eight tasks") {
    val metrics = TaskMetrics(spark)
    try {
      val before = metrics.snap()
      spark.range(0, 1000, 1, 8).foreach(_ => ())
      val d = metrics.snap() - before
      assert(d.jobs == 1 && d.tasks == 8, s"jobs=${d.jobs} tasks=${d.tasks}")
      assert(d.cpuNs >= 0 && d.runMs >= 0)
      assert(d.jobLog.map(j => (j.stages, j.tasks)) == Seq((1, 8)))
      assert(d.jobLog.forall(j => j.endMs >= j.startMs))
      assert(d.jobLog.forall(_.site.startsWith("foreach at ")), d.jobLog)
      // the log holds only the jobs since the previous snapshot
      assert(metrics.snap().jobLog.isEmpty)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  // the needle is split so this file does not match itself
  test("graft/TaskMetrics.scala is the only SparkListener subclass in the sources") {
    assert(sourcesContaining("extends Spark" + "Listener") ==
      Seq("src/main/scala/graft/TaskMetrics.scala"))
  }
}
