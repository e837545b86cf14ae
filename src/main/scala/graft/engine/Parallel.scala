package graft.engine

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Runs independent Spark actions together, so the scheduler overlaps their
  * jobs instead of paying each one's fixed cost in turn.
  */
object Parallel {

  /** Runs every task on at most the session's core count
    * (`defaultParallelism`) of threads and returns their results in task
    * order. The threads are made for this call, so they inherit the caller's
    * Spark local properties (job group, `graft.phase`-style tags) and every
    * job they submit carries them. All tasks run to the end, even after one
    * fails; then the first failure in task order is rethrown, with the later
    * ones suppressed on it. Every thread has ended when this returns.
    */
  def run[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val errors = new Array[Throwable](tasks.size)
    val next = new AtomicInteger
    val width = math.min(tasks.size, spark.sparkContext.defaultParallelism)
    val threads = (1 to width).map { i =>
      val th = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.size) {
          try results(k) = tasks(k)()
          catch { case e: Throwable => errors(k) = e }
          k = next.getAndIncrement()
        }
      }, s"graft-parallel-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    errors.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[T]]
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
