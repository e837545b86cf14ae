package graft

import graft.queries.ExtensionQueries
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Hand-computed RFM segmentation over a synthetic orders table written to
  * a temp dir (the key reads `$dir/orders.parquet` like the driver does).
  */
class SegmentationSpec extends SparkSpecBase {

  test("pareto ABC: cumulative cent shares classify at the 80/95 fences") {
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_extendedprice", DoubleType)))
    // part revenues 80/10/6/4 cents: cum shares 80 -> A, 90 -> B,
    // 96 -> C, 100 -> C
    val rows = Seq(Row(1L, 1L, 0.80), Row(1L, 2L, 0.10),
      Row(1L, 3L, 0.06), Row(1L, 4L, 0.04))
    val dir = java.nio.file.Files.createTempDirectory("graft_abc").toString
    spark.createDataFrame(rows.asJava, liSchema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = ExtensionQueries.queries("orders_pareto_abc")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((80L, 80L, "A")), 2L -> ((10L, 90L, "B")),
      3L -> ((6L, 96L, "C")), 4L -> ((4L, 100L, "C"))))
  }

  test("basket pairs: support and lift match hand counts on three baskets") {
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    // baskets: {1,2,3}, {1,2}, {2,3} -> pair (1,2) support 2, (2,3) 2,
    // (1,3) 1; part orders: 1->2, 2->3, 3->2; N=3
    val rows = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L)).map { case (o, p) => Row(o, p) }
    val dir = java.nio.file.Files.createTempDirectory("graft_basket").toString
    spark.createDataFrame(rows.asJava, liSchema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = ExtensionQueries.queries("basket_pairs_topk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // lift_bp = n_ab * N * 10000 / (n_a * n_b)
    assert(got((1L, 2L)) == ((2L, 2L * 3 * 10000 / (2 * 3))))
    assert(got((2L, 3L)) == ((2L, 2L * 3 * 10000 / (3 * 2))))
    assert(got((1L, 3L)) == ((1L, 1L * 3 * 10000 / (2 * 2))))
  }

  test("basket pairs: the one-pass form equals the oracle's self-join at sf0.001 and on duplicate and null lines") {
    // the oracle's SQL run in Spark: DuckDB's `//` is Spark's `div`
    val oracle = SparkEntry.oracleSql("basket_pairs_topk")
      .replace(" // ", " div ").replace("FROM lineitem", "FROM basket_lineitem")
    def check(dir: String): Seq[Row] = {
      spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("basket_lineitem")
      try {
        val want = spark.sql(oracle).collect().toSeq
        val got = ExtensionQueries.queries("basket_pairs_topk")(spark, dir).collect().toSeq
        assert(got == want)
        got
      } finally spark.catalog.dropTempView("basket_lineitem")
    }
    assert(check(sfDir).length == 25)
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    // order 1 lists part 2 twice, order 2 has a null part, order 3 only a
    // null part (it still counts as an order): pairs (1,2) 2, (2,3) 2,
    // (1,3) 1; part orders 1->2, 2->3, 3->2; N=4
    val rows = Seq[(Long, java.lang.Long)]((1L, 1L), (1L, 2L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, null), (3L, null), (4L, 2L), (4L, 3L))
      .map { case (o, p) => Row(o, p) }
    val dir = java.nio.file.Files.createTempDirectory("graft_basket").toString
    spark.createDataFrame(rows.asJava, liSchema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(check(dir).map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq((1L, 2L, 2L, 2L * 4 * 10000 / (2 * 3)), (2L, 3L, 2L, 2L * 4 * 10000 / (3 * 2)),
        (1L, 3L, 1L, 1L * 4 * 10000 / (2 * 2))))
  }

  test("supplier lead time: integer day diffs and exact percentiles") {
    val liSchema = StructType(Seq(
      StructField("l_suppkey", LongType), StructField("l_orderkey", LongType),
      StructField("l_shipdate", TimestampType)))
    val oSchema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderdate", TimestampType)))
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"1996-01-$day%02d 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft_lead").toString
    // supplier 1 ships order 1 after 2 and 4 days, order 2 after 10 days
    spark.createDataFrame(Seq(
      Row(1L, 1L, ts(3)), Row(1L, 1L, ts(5)), Row(1L, 2L, ts(12))).asJava,
      liSchema).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.createDataFrame(Seq(Row(1L, ts(1)), Row(2L, ts(2))).asJava,
      oSchema).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = ExtensionQueries.queries("supplier_lead_time")(spark, dir)
      .collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 4.0)   // median of [2, 4, 10]
    assert(r.getDouble(3) == 7.0)   // p75: 4 + 0.5 * (10 - 4)
    assert(r.getLong(4) == 10L)
  }

  test("RFM quartile scores and segments match a hand-built crossing pattern") {
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderdate", TimestampType),
      StructField("o_totalprice", DoubleType)))
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"1996-01-$day%02d 00:00:00")
    // customer k places k orders of 100.00 on day (10 - k): recency rank
    // and frequency/monetary rank run in OPPOSITE directions
    val rows = for (k <- 1 to 4; i <- 1 to k)
      yield Row(k.toLong * 10 + i, k.toLong, ts(10 - k), 100.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rfm").toString
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = ExtensionQueries.queries("customer_rfm_segments")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(7)))).toMap
    // r_days = k-1; f = k; m_cents = k * 10000
    assert(got(1L) == ((0L, 1L, 10000L, "411")))
    assert(got(2L) == ((1L, 2L, 20000L, "322")))
    assert(got(3L) == ((2L, 3L, 30000L, "233")))
    assert(got(4L) == ((3L, 4L, 40000L, "144")))
  }
}
