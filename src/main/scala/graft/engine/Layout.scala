package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data-layout operators. At 100 TB the scan is the query cost, and
  * layout is what makes scans cheap: a table clustered on a space-filling
  * curve over its two hottest filter dimensions gives every file a tight
  * min/max envelope in BOTH dimensions, so two-sided predicates prune to a
  * small file subset (the Delta/Iceberg OPTIMIZE ZORDER idea). Here: the
  * curve keys and the evaluations that measure what they buy.
  */
object Layout {

  /** Morton (Z-order) value interleaving the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Pure shift/mask built-ins — codegen'd, map-only.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Hilbert-curve index of a 2-D point (the xy2d walk of the classic
    * iterative algorithm): unlike the Z-curve, the Hilbert curve never
    * long-jumps, so consecutive curve positions are always grid
    * neighbors — tighter per-file envelopes for the same sort, the reason
    * warehouse OPTIMIZE implementations offer it next to Z-order.
    * One native codegen'd expression
    * ([[graft.functions.NativeExpressions.HilbertPos]]) evaluating the
    * constant-size bit-level loop — analysis cost is a single expression
    * node regardless of `bits` (the former unrolled Column tree grew
    * ~5^bits nodes and cost ~5 s of driver analysis at bits = 6), so the
    * usable resolution matches [[zValue]]'s 16 and beyond.
    */
  def hilbertValue(xCol: Column, yCol: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31,
      s"hilbertValue: bits must be in 1..31, got $bits")
    org.apache.spark.sql.graft.PlanBuilder.columnOf(
      graft.functions.NativeExpressions.HilbertPos(
        org.apache.spark.sql.graft.PlanBuilder.expressionOf(xCol.cast("long")),
        org.apache.spark.sql.graft.PlanBuilder.expressionOf(yCol.cast("long")),
        org.apache.spark.sql.catalyst.expressions.Literal(bits)))
  }

  /** Data-skipping evaluation for clustering layouts — MEASURES what the
    * curve keys only assert: cluster the rows three ways (natural input
    * order, Z-order, Hilbert), cut each layout into fixed-width key-range
    * "files", compute every file's (x, y) min/max zone map, and count how
    * many files a 2-D box predicate must read. The Hilbert count ≤ Z
    * count ≤ natural count is the entire point of curve clustering, and
    * this key turns it into a hash-checked number.
    *
    * Buckets are VALUE ranges of each layout key (`key div width`), not
    * equal-count ntiles — map-only and deterministic with no global
    * window; a real OPTIMIZE job's range partitioner approximates exactly
    * this split. One aggregate per layout over the bucket key; the zone
    * maps are |files|-row relations; everything integer.
    *
    * Returns one row per layout: files with rows, files the box reads,
    * rows those files hold, and the true matching row count (identical
    * across layouts — the invariant an oracle checks for free).
    */
  def clusterPruneEval(
      df: DataFrame,
      dimA: Column,
      dimB: Column,
      orderCol: Column,
      bits: Int = 6,
      nFiles: Int = 128,
      boxLo: Long = 5L,
      boxHi: Long = 20L): DataFrame = {
    val side = 1L << bits
    require(nFiles >= 1 && side * side >= nFiles,
      s"clusterPruneEval: nFiles ($nFiles) must be in 1..4^bits " +
        s"(${side * side}) or the curve-key bucket width is 0")
    // ceil-div keeps width >= 1 when 4^bits is not a multiple of nFiles
    // (integer floor-div would give width 0 → NULL buckets downstream)
    val width = (side * side + nFiles - 1) / nFiles
    val base = df.select(dimA.cast("long").as("x"), dimB.cast("long").as("y"),
      orderCol.cast("long").as("ord"))
    val maxOrd = base.agg(max(col("ord")).as("mo"))
    val layouts = Seq(
      // natural: bucket by arrival-order ranges (needs the max, one
      // broadcast row); curves: bucket by key-value ranges (static width)
      ("natural", (d: DataFrame) => d.crossJoin(broadcast(maxOrd))
        .withColumn("f", expr(s"ord div ((mo div $nFiles) + 1)"))),
      ("zorder", (d: DataFrame) => d.withColumn("f",
        expr(s"zkey div $width"))),
      ("hilbert", (d: DataFrame) => d.withColumn("f",
        expr(s"hkey div $width"))))
    val keyed = base
      .withColumn("zkey", zValue(col("x"), col("y"), bits))
      .withColumn("hkey", hilbertValue(col("x"), col("y"), bits))
    layouts.map { case (name, bucketize) =>
      bucketize(keyed)
        .groupBy(col("f"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"),
          sum(when(col("x").between(boxLo, boxHi) &&
            col("y").between(boxLo, boxHi), 1L).otherwise(0L)).as("n_match"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("xmax") >= boxLo && col("xmin") <= boxHi &&
            col("ymax") >= boxLo && col("ymin") <= boxHi, 1L).otherwise(0L))
            .as("n_files_read"),
          sum(when(col("xmax") >= boxLo && col("xmin") <= boxHi &&
            col("ymax") >= boxLo && col("ymin") <= boxHi, col("n_rows"))
            .otherwise(0L)).as("n_rows_read"),
          sum(col("n_match")).as("n_rows_match"))
        .select(lit(name).as("layout"), col("n_files"), col("n_files_read"),
          col("n_rows_read"), col("n_rows_match"))
    }.reduce(_ unionByName _)
  }

  /** Range-partitioner balance audit — the explicit form of what Spark's
    * `repartitionByRange`/TeraSort does internally: k−1 exact quantile
    * boundaries split the value domain into k ranges of near-equal row
    * count, the precondition for a balanced global sort or range-bucketed
    * layout at 100 TB (a skewed boundary set means one straggler partition
    * sorts half the data). The boundary aggregate broadcasts one row; the
    * range id is an unrolled codegen'd comparison sum (no HOF lambda in
    * the per-row path); output is the per-range row count a layout job
    * would assert on before committing the write.
    */
  def rangePartitionBalance(df: DataFrame, valueCol: String, k: Int = 8)
      : DataFrame = {
    require(k >= 2 && (k & (k - 1)) == 0,
      "k must be a power of two so the quantile fractions are exact binary" +
        " doubles in every engine")
    val qs = (1 until k).map(i => i.toDouble / k)
    val bounds = df.agg(
      expr(s"percentile($valueCol, array(${qs.mkString(", ")}))").as("bs"))
    val rangeId = (1 until k)
      .map(i => when(col("v") >= element_at(col("bs"), i), 1).otherwise(0))
      .reduce(_ + _)
    df.select(col(valueCol).as("v"))
      .crossJoin(broadcast(bounds))
      .select(rangeId.cast("long").as("range_id"))
      .groupBy(col("range_id")).agg(count(lit(1)).as("n_rows"))
  }
}
