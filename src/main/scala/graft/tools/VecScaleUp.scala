package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embeddings-only fixture scale-up (dev tool): the vector-decade companion
  * to [[ScaleUp]]. The r17 sf10 decade proved the relational/events side at
  * 60M rows but the vector side only to 200k embeddings — three decades
  * short of where the adaptive-nlist cap (2^12 cells, binding at n ≈ 17M)
  * changes the SemDeDup/ANN candidate regime. Replicating ONLY the
  * embeddings table (a 20M-row 64-dim corpus is ~5 GB — cheap next to a
  * full sf100 build) puts the measurement where that design risk actually
  * lives.
  *
  * Same replication contract as [[ScaleUp]]: replica i shifts vec_id by
  * i·base and perturbs each coordinate deterministically. The out dir gets
  * embeddings.parquet only — sweep keys that read other tables must point
  * elsewhere.
  *
  * `dupPct` is the REALISM DIAL (VERDICT r18 #3): with the original
  * all-small-perturbation contract (dupPct=100, the default for sweep
  * reproducibility) every base vector becomes a mult-member near-identical
  * clique, so any threshold's SemDeDup CC input is candidate-sized BY
  * FIXTURE CONSTRUCTION (r18 measured 6.6×10¹⁰ edges at 20M — unrunnable
  * on one box and unlike any real corpus). At dupPct=p, only a
  * deterministic p% of replica rows keep the small within-the-0.90-ball
  * offset (genuine near-dups); the rest get heavy coordinate noise sized
  * from the corpus's own RMS coordinate (noise-to-signal ‖n‖/‖v‖ ≈ 0.75 →
  * expected cosine vs base ≈ 0.8, comfortably past the 0.90 ball), so the
  * dedup edge volume scales like a real ~p%-duplicated corpus and the
  * FULL pipeline — CC tail included — is measurable at 2M/20M.
  *
  * vec_id is always widened to LONG in the output (an INT source id times
  * mult·base would wrap past Int.MaxValue silently under the old
  * cast-back-to-source-dtype rule; downstream dials read the VALUES, not
  * the dtype).
  *
  *   runMain graft.tools.VecScaleUp <srcSfDir> <outDir> [mult=10] [dupPct=100]
  */
object VecScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    val dupPct = if (args.length > 3) args(3).toDouble else 100.0
    val spark = graft.Session()
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val base = emb.agg(max(col("vec_id")).cast("long")).head.getLong(0) + 1
    // corpus RMS coordinate — sizes the heavy noise relative to the data
    // (‖noise‖/‖v‖ ≈ 0.75 for per-coord uniform[-A, A] with
    // A = 0.75·√3·rmsCoord): one tiny aggregate, computed once
    val rmsCoord = emb.select(expr(
      "aggregate(embedding, CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2"),
      expr("size(embedding) AS d"))
      .agg((sum(col("n2")) / sum(col("d"))).as("ms")).head
      .getDouble(0)
    val heavyA = 0.75 * math.sqrt(3.0) * math.sqrt(rmsCoord)
    // per-replica-row dup lottery: pmod(hash(vec_id, i), 10000) < p·100,
    // deterministic in (source vec_id, replica) so rebuilds are identical
    val dupCut = math.round(dupPct * 100).toInt
    val t0 = System.nanoTime()
    (0 until mult).map { i =>
      val shifted = emb.withColumn("vec_id",
        (col("vec_id") + lit(i * base)).cast("long"))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"CASE WHEN pmod(hash(vec_id, 'dup', $i), 10000) < $dupCut THEN " +
          // near-dup replica: tiny offset, stays inside the 0.90 ball
          s"transform(embedding, (x, j) -> " +
          s"CAST(x + (pmod(hash(vec_id, j, $i), 997) - 498) / 100000.0 AS FLOAT)) " +
          s"ELSE " +
          // distinct vector: heavy noise, expected cosine vs base ≈ 0.8
          s"transform(embedding, (x, j) -> " +
          s"CAST(x + $heavyA * (pmod(hash(vec_id, j, $i, 'h'), 20001) - 10000) / 10000.0 AS FLOAT)) " +
          s"END"))
    }.reduce(_ unionByName _)
      .repartition(math.max(32, mult))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(f"scaled embeddings x$mult (base $base, dupPct $dupPct%.1f, " +
      f"heavyA $heavyA%.4f) in ${(System.nanoTime() - t0) / 1e9}%6.1fs -> $out")
    spark.stop()
  }
}
