package graft

import graft.engine.Cdc
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSpecBase {
  import spark.implicits._

  test("mergeApply: insert/update/delete with last-wins compaction per key") {
    val snapshot = Seq(
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)
    ).toDF("id", "name", "v")
    val changes = Seq(
      // key 2: update at seq 1, then delete at seq 2 — delete must win
      (2L, "b2", 21L, 1L, "U"),
      (2L, "b2", 21L, 2L, "D"),
      // key 3: delete at seq 1, then re-insert at seq 2 — insert must win
      (3L, "c2", 31L, 1L, "D"),
      (3L, "c2", 31L, 2L, "I"),
      // key 4: fresh insert (absent from snapshot)
      (4L, "d", 40L, 1L, "I")
    ).toDF("id", "name", "v", "seq", "op")

    val out = Cdc.mergeApply(snapshot, changes, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "a", 10L),    // untouched passthrough
      (3L, "c2", 31L),   // re-insert image replaces the deleted row
      (4L, "d", 40L)))   // new key appears; key 2 is gone
  }

  test("mergeApply result columns and order match the snapshot") {
    val snapshot = Seq((1L, "a")).toDF("id", "name")
    val changes = Seq((1L, "a2", 1L, "U")).toDF("id", "name", "seq", "op")
    val out = Cdc.mergeApply(snapshot, changes, "id")
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2")))
  }

  test("Ivm.mergeAggState: merge of split states equals direct aggregate; closed under itself") {
    import graft.engine.Ivm
    val rows = Seq(
      ("a", 1L, 10L), ("a", 1L, 20L), ("b", 2L, 5L), ("b", 2L, 7L), ("c", 3L, 1L))
      .toDF("k", "g", "v")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k", "g").agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val full = state(rows)
    // three-way split merged pairwise in either order == direct aggregate
    val s1 = state(rows.limit(2))
    val s2 = state(rows.filter(col("v") === 5L || col("v") === 7L))
    val s3 = state(rows.filter(col("k") === "c"))
    val merged = Ivm.mergeAggState(
      Ivm.mergeAggState(s1, s2, Seq("k", "g")), s3, Seq("k", "g"))
    assert(merged.exceptAll(full).count() == 0 && full.exceptAll(merged).count() == 0)
  }

  test("covarianceStats: hand-computed moments on a tiny stream") {
    import graft.analytics.EventsAnalytics
    // hours 1 and 2; values 1.0 and 3.0 (→ x = 1000, 3000)
    val ev = Seq(
      (1L, 1L, "t", 3600000000000L * 1 + 5L, 1.0),
      (2L, 1L, "t", 3600000000000L * 2 + 9L, 3.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val r = EventsAnalytics.covarianceStats(ev).collect().head
    assert(r.getAs[Long]("n") == 2L)
    assert(r.getAs[Long]("sx") == 4000L && r.getAs[Long]("sy") == 3L)
    assert(r.getAs[Long]("sxy") == 1000L * 1 + 3000L * 2)
    // cov_num = n*sxy - sx*sy = 2*7000 - 4000*3 = 2000
    assert(r.getAs[Double]("cov_num") == 2000.0)
    // var_x_num = 2*(1e6 + 9e6) - 16e6 = 4e6
    assert(r.getAs[Double]("var_x_num") == 4000000.0)
  }

  test("fixture CDC key: deletes beat upserts, inserts materialize, odd keys persist") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val snapshot = orders.filter(col("o_orderkey") % 4 =!= 0)
    val upserts = orders.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .withColumn("seq", lit(1L))
      .withColumn("op",
        when(col("o_orderkey") % 4 === 0, lit("I")).otherwise(lit("U")))
    val deletes = orders.filter(col("o_orderkey") % 20 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val merged = Cdc.mergeApply(snapshot, upserts.unionByName(deletes), "o_orderkey")
    assert(merged.filter(col("o_orderkey") % 20 === 0).count() == 0)
    assert(merged.filter(col("o_orderkey") % 2 === 0 &&
      col("o_orderstatus") =!= "X").count() == 0)
    val odd = orders.filter(col("o_orderkey") % 2 === 1)
    assert(merged.filter(col("o_orderkey") % 2 === 1).count() == odd.count())
  }

  test("Ivm.joinDelta: base view + delta equals the full join exactly") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val oBase = o.filter(col("o_orderkey") % 10 =!= 7)
    val oDelta = o.filter(col("o_orderkey") % 10 === 7)
    val lBase = l.filter(col("l_linenumber") < 5)
    val lDelta = l.filter(col("l_linenumber") >= 5)
    val cond = col("o_orderkey") === col("l_orderkey")
    val baseView = oBase.join(lBase, cond)
    val delta = graft.engine.Ivm.joinDelta(oBase, oDelta, lBase, lDelta, cond)
    val full = o.join(l, cond)
    val maintained = baseView.unionByName(delta)
    assert(maintained.count() == full.count())
    assert(maintained.exceptAll(full).count() == 0)
    assert(full.exceptAll(maintained).count() == 0)
    // delta never re-derives a base-view row
    assert(delta.intersect(baseView).count() == 0)
  }

  test("Ivm.topKMaintain: merge of state + batch equals full recompute, per split") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("neg_cents", -col("cents"))
    val full = graft.plans.TopKPerKey.topKPerKey(
      e, Seq("event_type"), Seq("neg_cents", "event_id"), 5)
    for (m <- Seq(2L, 4L, 7L)) {
      val state = graft.plans.TopKPerKey.topKPerKey(
        e.filter(col("event_id") % m =!= 0),
        Seq("event_type"), Seq("neg_cents", "event_id"), 5)
      val merged = graft.engine.Ivm.topKMaintain(
        state, e.filter(col("event_id") % m === 0),
        Seq("event_type"), Seq("neg_cents", "event_id"), 5)
      assert(merged.exceptAll(full).count() == 0)
      assert(full.exceptAll(merged).count() == 0)
    }
  }

  test("Ivm.distinctDelta: added = batch pairs unseen by base; batch-born keys get old 0") {
    import spark.implicits._
    val base = Seq(("k1", 1L), ("k1", 2L), ("k1", 2L), ("k2", 1L))
      .toDF("k", "v")
    val delta = Seq(("k1", 2L), ("k1", 3L), ("k3", 9L)).toDF("k", "v")
    val got = graft.engine.Ivm.distinctDelta(base, delta, Seq("k"), "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      "k1" -> ((2L, 1L, 3L)),   // v2 re-arrives (not added), v3 is new
      "k2" -> ((1L, 0L, 1L)),   // untouched by the batch
      "k3" -> ((0L, 1L, 1L)))) // born in the batch
    // postcondition: new_distinct equals the direct distinct count
    val full = base.unionByName(delta).groupBy("k")
      .agg(countDistinct(col("v")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.map { case (k, t) => k -> t._3 } == full)
  }

  test("cusumShift: argmax lands at a constructed level shift") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // 10 at level 1.0, then 10 at level 5.0: the prefix path bows furthest
    // from the uniform line exactly at the boundary (t = 10)
    val rows = (1 to 20).map { i =>
      Row(i.toLong, i * 1000L, 1L, "A", if (i <= 10) 1.0 else 5.0)
    }
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = graft.analytics.EventsAnalytics.cusumShift(tiny).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "A" && r.getLong(1) == 20L)
    assert(r.getLong(4) == 10L && r.getLong(3) == 10L) // shift_t, shift_event_id
    // stat at t=10: |P10*N - 10*Ptot| = |1000*20 - 10*6000| = 40000
    assert(r.getLong(2) == 40000L)
  }

  test("scd2Build: versions chain, deletes close without opening, current flags") {
    val changes = Seq(
      // key 1: I@1 -> U@3 -> D@5: two closed versions, no current
      (1L, "a", 1L, "I"), (1L, "a2", 3L, "U"), (1L, null, 5L, "D"),
      // key 2: I@2 only: one open current version
      (2L, "b", 2L, "I"),
      // key 3: I@1 -> U@2: closed then current
      (3L, "c", 1L, "I"), (3L, "c2", 2L, "U")
    ).toDF("id", "name", "seq", "op")
    val got = graft.engine.Cdc.scd2Build(changes, "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      (1L, "a", 1L, 3L, 0), (1L, "a2", 3L, 5L, 0),
      (2L, "b", 2L, -1L, 1),
      (3L, "c", 1L, 2L, 0), (3L, "c2", 2L, -1L, 1)))
  }

  test("rateLimitAdmission: refills, rejections and clock advance match hand replay") {
    val hour = 3600L * 1000000000L
    // user 1, capacity 3 / 1 per hour:
    //  t=0,1,2,3 (4 quick events): admit,admit,admit,reject (bucket empty)
    //  t=1.5h: refill floor(1.5h/h)=1 -> admit; clock advances to 1h
    //  t=1.9h: refill floor(0.9h/h)=0 -> reject (fractional credit kept)
    //  t=2.0h: refill floor(1.0h/h)=1 -> admit
    val ev = Seq(
      (1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L),
      (5L, hour * 3 / 2), (6L, hour * 19 / 10), (7L, hour * 2)
    ).map { case (id, ts) => (id, 1L, "t", ts, 0.0) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = graft.analytics.EventsAnalytics.rateLimitAdmission(ev)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0,
      5L -> 1, 6L -> 0, 7L -> 1))
  }
}
