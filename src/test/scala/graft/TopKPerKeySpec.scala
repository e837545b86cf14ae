package graft

import graft.plans.{TopKPerKey, TopKPerKeyStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom grouped-top-k operator must equal the row_number window
  * formulation on every input shape, and its plan must show the bounded-heap
  * exec (not a window sort).
  */
class TopKPerKeySpec extends SparkSpecBase {

  private lazy val events = spark.read.parquet(s"$sfDir/events.parquet")

  private def windowTopK(k: Int, in: DataFrame = events) =
    in
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= k)
      .select("user_id", "event_id")

  test("equals the row_number window formulation for k = 1, 3, 10") {
    for (k <- Seq(1, 3, 10)) {
      val got = TopKPerKey.topKPerKey(
        events, Seq("user_id"), Seq("ts", "event_id"), k)
        .select("user_id", "event_id")
      assert(got.count() == windowTopK(k).count(), s"count mismatch k=$k")
      assert(got.exceptAll(windowTopK(k)).count() == 0, s"rows mismatch k=$k")
    }
  }

  test("k larger than every group passes all rows through") {
    val got = TopKPerKey.topKPerKey(
      events, Seq("user_id"), Seq("ts", "event_id"), 1000000)
    assert(got.count() == events.count())
  }

  test("physical plan uses TopKPerKeyExec with a single hash exchange") {
    val df = TopKPerKey.topKPerKey(
      events, Seq("user_id"), Seq("ts", "event_id"), 3)
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix
    assert(plan.contains("TopKPerKey"), plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), "must not fall back to a window sort")
  }

  test("composite keys and empty input") {
    val got = TopKPerKey.topKPerKey(
      events, Seq("user_id", "event_type"), Seq("ts", "event_id"), 2)
    val oracle = events
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= 2).drop("rn")
    assert(got.count() == oracle.count())
    val empty = TopKPerKey.topKPerKey(
      events.filter(lit(false)), Seq("user_id"), Seq("ts"), 3)
    assert(empty.count() == 0)
  }

  // expression ids and exchange plan ids count up per session build, so
  // two plans of one query differ in them alone
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("a newSession plans the row_number window the same before and after topKPerKey") {
    val fresh = spark.newSession()
    val ev = fresh.read.parquet(s"$sfDir/events.parquet")
    def windowPlan() =
      normalized(windowTopK(3, ev).queryExecution.executedPlan.toString)
    val before = windowPlan()
    assert(before.contains("Window"), before)
    assert(!before.contains("TopKPerKey"), before)
    TopKPerKey.topKPerKey(ev, Seq("user_id"), Seq("ts", "event_id"), 3).count()
    assert(windowPlan() == before)
  }

  test("topKPerKey plans and runs in a fresh newSession without changing its planner or optimizer") {
    val fresh = spark.newSession()
    def graftRules() = (
      fresh.sessionState.planner.strategies
        .filter(_.getClass.getName.startsWith("graft.")),
      fresh.sessionState.optimizer.batches.flatMap(_.rules)
        .filter(_.getClass.getName.startsWith("graft.")))
    // the one graft strategy is the injected one; no graft optimizer rule
    assert(graftRules() == (Seq(TopKPerKeyStrategy), Nil))
    val ev = fresh.read.parquet(s"$sfDir/events.parquet")
    val got = TopKPerKey.topKPerKey(ev, Seq("user_id"), Seq("ts", "event_id"), 3)
      .select("user_id", "event_id")
    assert(got.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(got.count() == windowTopK(3, ev).count())
    assert(got.exceptAll(windowTopK(3, ev)).count() == 0)
    assert(graftRules() == (Seq(TopKPerKeyStrategy), Nil))
  }

  test("works over a cached (columnar InMemoryRelation) child") {
    val cached = events.cache()
    try {
      val got = TopKPerKey.topKPerKey(
        cached, Seq("user_id"), Seq("ts", "event_id"), 3)
        .select("user_id", "event_id")
      assert(got.count() == windowTopK(3).count())
      assert(got.exceptAll(windowTopK(3)).count() == 0)
    } finally cached.unpersist()
  }

  test("unknown column raises a friendly error") {
    val e = intercept[IllegalArgumentException] {
      TopKPerKey.topKPerKey(events, Seq("nope"), Seq("ts"), 3)
    }
    assert(e.getMessage.contains("nope"))
  }
}
