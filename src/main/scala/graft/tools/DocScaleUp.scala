package graft.tools

import org.apache.spark.sql.functions._

/** Documents-only fixture scale-up (dev tool): the text-side companion to
  * [[VecScaleUp]] (VERDICT r18 "what's missing #3"). The r17 sf10 decade
  * proved the minhash/trigram/containment family to 500k documents; this
  * replicates ONLY the documents table another decade (5M docs from sf10 —
  * ~2 GB of text, cheap next to a full sf100 build) so the keys that spill
  * 2-4 GB at sf10 get a measured linearity verdict one decade further up.
  *
  * Same natural-growth contract as [[ScaleUp]]'s documents rule: replica
  * i > 0 suffixes every token with `_s{i}` (disjoint vocabularies — no
  * cross-replica near-duplicates, so candidate volume and dedup output
  * grow ~linearly like a real bigger crawl) and doc_id shifts by
  * i·base, always widened to LONG (same wrap hazard as VecScaleUp's
  * vec_id). n_chars is re-derived from the suffixed text.
  *
  *   runMain graft.tools.DocScaleUp <srcSfDir> <outDir> [mult=10]
  */
object DocScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val base = docs.agg(max(col("doc_id")).cast("long")).head.getLong(0) + 1
    val t0 = System.nanoTime()
    (0 until mult).map { i =>
      val shifted = docs.withColumn("doc_id",
        (col("doc_id") + lit(i * base)).cast("long"))
      if (i == 0) shifted
      else shifted
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), t -> concat(t, '_s$i')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
      .repartition(math.max(32, mult * 4))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(f"scaled documents x$mult (base $base) in " +
      f"${(System.nanoTime() - t0) / 1e9}%6.1fs -> $out")
    spark.stop()
  }
}
