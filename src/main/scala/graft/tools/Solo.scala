package graft.tools

import graft.SparkEntry

/** Time individual query keys in isolation (dev tool):
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.tools.Solo key [key…]
  * Repeats each key `SPARK_GRAFT_REPS` times (default 1) after one warm-up
  * pass over region/nation so JIT noise doesn't drown the signal.
  */
object Solo {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val spark = graft.Session()
    // task CPU is the host-noise-robust reading (wall swings 2x with
    // hypervisor steal; CPU doesn't) — accumulate it per rep
    val cpu = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            cpu.addAndGet(e.taskMetrics.executorCpuTime / 1000000)
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.incrementAndGet()
      })
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    args.foreach { name =>
      (1 to reps).foreach { i =>
        cpu.set(0L); jobs.set(0L)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"SOLO $name%-32s rep$i $wall%7.2fs cpu=${cpu.get / 1000.0}%7.2fs " +
          f"jobs=${jobs.get}%3d rows=$n")
      }
    }
    spark.stop()
  }
}
