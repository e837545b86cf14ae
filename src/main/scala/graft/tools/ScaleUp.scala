package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up (dev tool): replicate every table of a
  * source sf directory `mult`× with shifted keys, preserving the FK
  * structure (`o_custkey` shifts by the same customer-domain base as
  * `c_custkey`, etc.), so subset/join/agg keys run unmodified against a
  * `mult`×-volume corpus. Used to produce the sf1 scale-probe fixture from
  * sf0.1 WITHOUT touching the read-only driver testdata.
  *
  * Natural (not adversarial) scaling for the text/vector corpora:
  * replica i > 0 suffixes every document token with `_r{i}` (disjoint
  * vocabularies — no cross-replica near-duplicates, so dedup output
  * grows ~linearly like a real bigger crawl) and perturbs each
  * embedding coordinate by a small deterministic hash offset (so ANN
  * neighborhoods are not mult-way exact ties).
  *
  *   runMain graft.tools.ScaleUp <srcSfDir> <outDir> [mult=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session()

    def rd(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def base(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head.getLong(0) + 1
    // key-domain bases shared across tables so every FK stays closed;
    // events.user_id draws from the customer domain (join_skew_report
    // joins it against o_custkey), so the customer base covers both
    val custB = math.max(base(rd("customer"), "c_custkey"),
      base(rd("events"), "user_id"))
    val ordB = base(rd("orders"), "o_orderkey")
    val partB = base(rd("part"), "p_partkey")
    val suppB = base(rd("supplier"), "s_suppkey")
    val docB = base(rd("documents"), "doc_id")
    val vecB = base(rd("embeddings"), "vec_id")
    val evB = base(rd("events"), "event_id")

    def rep(n: String, shifts: Seq[(String, Long)],
        xform: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val t0 = System.nanoTime()
      (0 until mult).map { i =>
        val shifted = shifts.foldLeft(rd(n)) { case (d, (c, b)) =>
          d.withColumn(c, (col(c) + lit(i * b)).cast(d.schema(c).dataType))
        }
        xform(shifted, i)
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(f"scaled $n%-12s x$mult in ${(System.nanoTime() - t0) / 1e9}%6.1fs")
    }

    // region/nation are fixed-size dimensions at any TPC-H sf: copy as-is
    Seq("region", "nation").foreach { n =>
      rd(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"copied $n")
    }
    // names follow the shifted key (the fixture generator's own
    // Customer#%09d shape) — leaving replica names identical to the
    // originals makes every customer an exact-name duplicate of its
    // mult-1 replicas, which blows the entity-match graph up to mult^2
    // density (observed: the entityClusters pin build ran out of
    // execution memory at sf10); re-deriving the name keeps match
    // density scale-invariant, like real data growth
    rep("customer", Seq("c_custkey" -> custB), (d, i) =>
      if (i == 0) d
      else d.withColumn("c_name",
        concat(lit("Customer#"),
          lpad(col("c_custkey").cast("string"), 9, "0"))))
    rep("supplier", Seq("s_suppkey" -> suppB))
    rep("part", Seq("p_partkey" -> partB))
    rep("orders", Seq("o_orderkey" -> ordB, "o_custkey" -> custB))
    rep("lineitem", Seq(
      "l_orderkey" -> ordB, "l_partkey" -> partB, "l_suppkey" -> suppB))
    rep("events", Seq("event_id" -> evB, "user_id" -> custB))
    rep("documents", Seq("doc_id" -> docB), (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), t -> concat(t, '_r$i')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    rep("embeddings", Seq("vec_id" -> vecB), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding", expr(
        s"transform(embedding, (x, j) -> " +
          s"CAST(x + (pmod(hash(vec_id, j, $i), 997) - 498) / 100000.0 AS FLOAT))")))
    spark.stop()
  }
}
