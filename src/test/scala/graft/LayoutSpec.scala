package graft

import graft.engine.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpecBase {

  /** `ev` clustered on the 6-bit Z-curve over (u6, v6) in 16 partitions:
    * range-partitioned by `Layout.zValue`, sorted within partitions.
    */
  private def zordered(ev: org.apache.spark.sql.DataFrame) =
    ev.withColumn("z", Layout.zValue(col("u6"), col("v6"), bits = 6))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions(col("z"))

  test("z-value interleaves bits (known points)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
    val got = df.select(Layout.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave(3=0b011, 5=0b101) = b2 a2 b1 a1 b0 a0 = 1 0 0 1 1 1 = 39
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("hilbert value matches a driver-side xy2d replica; curve never jumps") {
    import spark.implicits._
    def ref(x0: Long, y0: Long, bits: Int): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          val (fx, fy) = if (rx == 1) (s - 1 - x, s - 1 - y) else (x, y)
          x = fy; y = fx
        }
        s >>= 1
      }
      d
    }
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertValue(col("x"), col("y"), bits = 4).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((x, y) <- pts) assert(got((x, y)) == ref(x, y, 4), s"($x,$y)")
    // bijection onto 0..255 and unit-step adjacency (the property Z-order
    // lacks): consecutive curve indices are always grid neighbors
    val byD = got.toSeq.map { case ((x, y), d) => d -> ((x, y)) }.sortBy(_._1)
    assert(byD.map(_._1) == (0L until 256L))
    for (Seq((_, (x1, y1)), (_, (x2, y2))) <- byD.sliding(2))
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
  }

  test("range partition balance: uniform domain splits into equal ranges") {
    import spark.implicits._
    val df = (1 to 80).map(_.toDouble).toDF("v")
    val got = Layout.rangePartitionBalance(df, "v", k = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 80 uniform rows over 8 ranges: every range holds exactly 10
    assert(got.keySet == (0L to 7L).toSet)
    assert(got.values.forall(_ == 10L), got.toString)
    // non-power-of-two k rejects (quantile fractions would be inexact)
    intercept[IllegalArgumentException] {
      Layout.rangePartitionBalance(df, "v", k = 6)
    }
  }

  test("z-ordered layout gives tight per-partition envelopes in BOTH dims") {
    // bucketize both dims to the same 6-bit width first — the z-curve
    // contract: interleaving is only meaningful over comparable bit widths
    // (a raw 4-bit dim against a 9-bit dim degenerates to single-dim sort)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("vb"))
    val m = raw.agg(max("user_id"), max("vb")).head
    val (umax, vmax) = (m.getLong(0), m.getLong(1))
    val ev = raw.select(col("event_id"),
      floor(col("user_id") * 64.0 / (umax + 1)).cast("long").as("u6"),
      floor(col("vb") * 64.0 / (vmax + 1)).cast("long").as("v6"))
    val z = zordered(ev)
    val stats = z.withColumn("pid", spark_partition_id())
      .groupBy(col("pid")).agg(
        (max("u6") - min("u6")).as("uw"),
        (max("v6") - min("v6")).as("vw"))
      .collect()
    val g = ev.agg(
      (max("u6") - min("u6")).cast("double"),
      (max("v6") - min("v6")).cast("double")).head
    val (gu, gv) = (g.getDouble(0), g.getDouble(1))
    val avgU = stats.map(_.getLong(1)).sum.toDouble / stats.length
    val avgV = stats.map(_.getLong(2)).sum.toDouble / stats.length
    // a random layout would leave every partition spanning ~the full range
    // in both dims; the z-curve must tighten both simultaneously
    assert(avgU < 0.6 * gu, s"avg u6 width $avgU vs global $gu")
    assert(avgV < 0.6 * gv, s"avg v6 width $avgV vs global $gv")
  }

  test("z-ordered parquet makes a 2-D filter scan read fewer row groups than an unsorted layout") {
    import java.nio.file.Files
    // the end-to-end pruning payoff the envelope test only implies: write
    // both layouts as 16 single-row-group files and measure how many rows
    // the REAL parquet reader pulls for a small 2-D box — row-group
    // min/max stats prune a file iff its envelope misses the box, so
    // scanned rows ≈ rows in surviving files
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("vb"))
    val m = raw.agg(max("user_id"), max("vb")).head
    val (umax, vmax) = (m.getLong(0), m.getLong(1))
    val ev = raw.select(col("event_id"),
      floor(col("user_id") * 64.0 / (umax + 1)).cast("long").as("u6"),
      floor(col("vb") * 64.0 / (vmax + 1)).cast("long").as("v6"))
    val dir = Files.createTempDirectory("graft_zorder_prune").toString
    zordered(ev).drop("z").write.parquet(s"$dir/zordered")
    ev.repartition(16, col("event_id")).write.parquet(s"$dir/unsorted")
    def scannedRows(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("u6") < 16 && col("v6") < 16)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    }
    val zRows = scannedRows(s"$dir/zordered")
    val uRows = scannedRows(s"$dir/unsorted")
    val total = ev.count()
    // hash layout: every file spans both full ranges, nothing prunes
    assert(uRows == total, s"unsorted scan pruned unexpectedly: $uRows/$total")
    // z-layout: the box is a contiguous z-range prefix -> a small file
    // subset survives the row-group stats
    assert(zRows <= total / 2,
      s"z-ordered scan read $zRows of $total rows — row groups not pruned")
  }

  test("clusterPruneEval: hilbert <= zorder << natural; matches invariant across layouts") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val got = Layout.clusterPruneEval(ev,
        col("user_id").bitwiseAND(lit(63L)),
        floor(col("value")).cast("long").bitwiseAND(lit(63L)),
        col("event_id")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // the true matching rows are layout-independent
    val matches = got.values.map(_._4).toSet
    assert(matches.size == 1)
    // natural order prunes ~nothing; both curves prune most files; the
    // Hilbert envelope is never worse than Z here
    val (nFilesNat, readNat, _, _) = got("natural")
    assert(readNat >= nFilesNat - 1)
    assert(got("zorder")._2 < readNat / 2)
    assert(got("hilbert")._2 <= got("zorder")._2)
  }
}
