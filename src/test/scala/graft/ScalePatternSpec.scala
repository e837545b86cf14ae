package graft

import graft.analytics.Similarity
import graft.engine.Ops
import org.apache.spark.sql.functions._

/** Tests for the cluster-scale layout patterns: bucketed co-located joins,
  * skew salting, IVF probing.
  */
class ScalePatternSpec extends SparkSpecBase {

  /** Write `df` into the session catalog as `table`, bucketed and sorted by
    * `key` into 4 buckets.
    */
  private def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
      key: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(4, key).sortBy(key).saveAsTable(table)

  test("bucketed tables join without a shuffle on either side") {
    // tables land in the default ./spark-warehouse (gitignored)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    writeBucketed(orders, "b_orders", "o_orderkey")
    writeBucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), "o_orderkey")
      assert(joined.count() == lineitem.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("TopKPerKey over a bucketed table elides the shuffle") {
    // ClusteredDistribution(user_id) is satisfied by the bucketed layout's
    // HashPartitioning, so the custom operator plans with NO Exchange —
    // the property that makes repeated per-key top-k queries cheap at scale
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    writeBucketed(events, "b_events", "user_id")
    try {
      val topk = graft.plans.TopKPerKey.topKPerKey(
        spark.table("b_events"), Seq("user_id"), Seq("ts", "event_id"), 3)
      val plan = topk.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), plan)
      assert(!plan.contains("Exchange"), s"bucketed top-k shuffled:\n$plan")
      // and the answer still matches the unbucketed operator
      val plain = graft.plans.TopKPerKey.topKPerKey(
        events, Seq("user_id"), Seq("ts", "event_id"), 3)
      assert(topk.count() == plain.count())
    } finally spark.sql("DROP TABLE IF EXISTS b_events")
  }

  test("dedupApply under a tiny TopKPerKey budget spills and matches the heap path") {
    // the dedup_apply shape (k=1 over near-unique fingerprints) is the
    // canonical heap-map blowup at corpus scale: force the sort fallback
    // on REAL fixture data and pin equality to the aggregate formulation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val budgetKey = graft.plans.TopKPerKey.RowBudgetKey
    spark.conf.set(budgetKey, "16")
    try {
      val deduped = graft.analytics.Dedup.dedupApply(docs)
      val oracle = graft.analytics.Dedup.fingerprintGroups(docs)
        .select(org.apache.spark.sql.functions.col("keep_id").as("doc_id"))
      assert(deduped.count() == oracle.count())
      assert(deduped.select("doc_id").exceptAll(oracle).count() == 0)
    } finally spark.conf.unset(budgetKey)
  }

  test("salted join equals the plain join result") {
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val plain = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"), "inner")
    val salted = Ops.saltedJoin(
      lineitem, Seq("l_orderkey"), orders, Seq("o_orderkey"), saltN = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.count(_ == "o_orderkey") == 0) // small-side key dropped
    assert(salted.agg(sum("o_totalprice")).head.getDouble(0) ==
      plain.agg(sum("o_totalprice")).head.getDouble(0))
  }

  test("DECIMAL-sum aggregates are bit-identical across shuffle partitionings") {
    // the partition-independence property: what makes local[32] results
    // equal a 1000-executor cluster's
    def q1Rows(parts: String): Set[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        graft.queries.CoreQueries.queries("q1_pricing_summary")(spark, sfDir)
          .collect().map(_.toString).toSet
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(q1Rows("1") == q1Rows("13"))
    def cosRows(parts: String): Set[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        graft.queries.ExtensionQueries.queries("cosine_topk_bruteforce")(spark, sfDir)
          .collect().map(_.toString).toSet
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(cosRows("2") == cosRows("11"))
  }

  test("multi-probe LSH recall dominates single-bucket LSH") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    val single = Similarity.lshBucketTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    val multi = Similarity.lshMultiProbeTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    // probing the 8 Hamming-1 neighbor buckets can only add candidates
    assert(multi.count(brute.contains) >= single.count(brute.contains))
    assert(multi.nonEmpty && !multi.contains(0L))
  }

  test("IVF top-k overlaps brute force and never returns the query") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivf = Similarity.ivfTopK(emb, queryId = 0L, k = 10).collect()
    assert(ivf.nonEmpty && ivf.forall(_.getLong(0) != 0L))
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    // probing 4/16 cells should still recover a reasonable share of the
    // true top-k for these clustered fixtures
    assert(ivf.map(_.getLong(0)).count(brute.contains) >= 2)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // the session's own partition count follows the core count; with
      // too few partitions no join partition is skewed enough to split
      "spark.sql.shuffle.partitions" -> "4")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carrying ~90% of the rows
      val left = spark.range(0, 60000)
        .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("r"))
      val joined = left.join(right, "k")
      // collect through THIS Dataset so its own AdaptiveSparkPlan finalizes
      // (count() would plan a separate query execution)
      assert(joined.collect().length == 54000 + 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") && plan.contains("skewed"),
        s"expected a skew-split join (skew=true + AQEShuffleRead skewed) in:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("PQ ADC top-k overlaps brute force, is deterministic, never returns the query") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pq = Similarity.pqTopK(emb, queryId = 0L, k = 10).collect()
    assert(pq.nonEmpty && pq.forall(_.getLong(0) != 0L))
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    // a 50-candidate ADC shortlist over 4 codebooks should recover most of
    // the true top-k on the clustered fixtures
    assert(pq.map(_.getLong(0)).count(brute.contains) >= 5)
    val again = Similarity.pqTopK(emb, queryId = 0L, k = 10).collect()
    assert(pq.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }
}
