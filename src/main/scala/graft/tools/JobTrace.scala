package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Per-job wall/stage/task breakdown for one query key (dev tool):
  * `SPARK_GRAFT_SF_DIR=… runMain graft.tools.JobTrace key [key…]` — runs
  * each key twice (rep 2 is the warm reading) and prints one line per
  * Spark job with its wall span, stage count, task count and the root RDD
  * call site, so a multi-job operator (k-means + CC fixpoints + audits)
  * shows WHERE its wall clock goes.
  */
object JobTrace {
  private final class L extends SparkListener {
    case class J(start: Long, var end: Long, var stages: Int, var tasks: Int,
        site: String)
    val jobs = new ConcurrentHashMap[Int, J]()
    val stageToJob = new ConcurrentHashMap[Int, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      jobs.put(e.jobId, J(System.nanoTime(), 0L, e.stageIds.size, 0, site))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.end = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      // boxed lookup: an unmapped stage (task racing reset(), or a job
      // started before attach) must be dropped, not unboxed to job 0
      val jid = stageToJob.get(e.stageId: Integer)
      if (jid != null) {
        val j = jobs.get(jid); if (j != null) j.synchronized { j.tasks += 1 }
      }
    }
    def reset(): Unit = { jobs.clear(); stageToJob.clear() }
    def report(t0: Long): Unit = {
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        val s = (j.start - t0) / 1e9
        val e = if (j.end == 0) -1.0 else (j.end - t0) / 1e9
        println(f"  job $id%3d  ${s}%7.2f -> ${e}%7.2f  (${e - s}%6.2fs) " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    val l = new L
    spark.sparkContext.addSparkListener(l)
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().count()
    graft.queries.ExtensionQueries.prebuildPinned(spark, dir,
      forKeys = Some(args.toSet))
    args.foreach { name =>
      (1 to 2).foreach { rep =>
        l.reset()
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"TRACE $name rep$rep wall=${wall}%6.2fs rows=$n")
        if (rep == 2) l.report(t0)
      }
    }
    spark.stop()
  }
}
