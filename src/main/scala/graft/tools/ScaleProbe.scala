package graft.tools

import graft.analytics.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-scale probe (dev tool): replicate the documents corpus
  * `mult`× with shifted ids — every document becomes a `mult`-way exact
  * near-duplicate group, the duplicate-heavy regime that historically blew
  * up combination-based simhash candidate generation — and time the
  * near-dup pipeline at 1× vs `mult`×. Healthy scaling: time grows ~with
  * input+output size (pair OUTPUT inherently grows ~mult² per group), not
  * explosively beyond it.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.tools.ScaleProbe [mult]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = if (args.nonEmpty) args(0).toInt else 4
    val spark = graft.Session()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val dup = (0 until mult).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 10L * n)))
      .reduce(_ unionByName _)
      .repartition(32).localCheckpoint() // materialize the input fairly

    def time(name: String, f: DataFrame => DataFrame): Unit = {
      Seq(("1x", docs), (s"${mult}x", dup)).foreach { case (tag, d) =>
        val t0 = System.nanoTime()
        val rows = f(d).count()
        println(f"PROBE $name%-28s $tag%4s in=${d.count()}%7d " +
          f"out=$rows%9d ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      }
    }
    time("simhash_r3_pairs", d => Dedup.simhashNearDupPairs(d, maxDist = 3))
    time("minhash_lsh_pairs", d => Dedup.lshCandidatePairs(d))
    time("neardup_components", d => Dedup.connectedComponents(
      Dedup.lshCandidatePairs(d).select(col("id_a"), col("id_b"))))
    time("fingerprint_groups", d => Dedup.fingerprintGroups(d))
    // every mult-way duplicate group is a K_mult clique: triangle OUTPUT
    // grows ~mult³ per group (C(mult,3) triangles each) — the clique-dense
    // regime; healthy = runtime tracks input+output, not the pair space
    time("neardup_triangles", d => Dedup.triangleCounts(
      Dedup.lshCandidatePairs(d).select(col("id_a"), col("id_b"))))

    // TopKPerKey at volume PAST the default 4Mi-row budget: near-unique
    // long keys (the dedup_apply shape) over 6M synthetic rows — the
    // DEFAULT configuration must cross into the sort fallback and still
    // return one row per key. Prints the fallback task count from the
    // operator's own metric.
    locally {
      val nRows = 6L * 1024 * 1024
      // ONE partition on purpose: the budget is per task, and the bound
      // exists precisely for the fat-task regime (a skewed or coalesced
      // input whose distinct-key count exceeds executor memory)
      val wide = spark.range(nRows).select(
        col("id").as("k1"), (col("id") % 97).as("v"), col("id").as("uid"))
        .repartition(1).localCheckpoint()
      // AQE off for this probe only: the adaptive wrapper is a leaf node
      // that would hide the exec (and its metric) from the plan traversal.
      // Save the caller's prior value — unset would restore the session
      // DEFAULT, clobbering an explicit setting made before the probe.
      val priorAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val t0 = System.nanoTime()
        val topk = graft.plans.TopKPerKey.topKPerKey(
          wide, Seq("k1"), Seq("v", "uid"), 1)
        val plan = topk.queryExecution.executedPlan
        val rows = plan.execute().count() // executes THIS plan's metrics
        val secs = (System.nanoTime() - t0) / 1e9
        val fallbacks = plan.collect {
          case e: graft.plans.TopKPerKeyExec => e.metrics("numFallbackTasks").value
        }.sum
        println(f"PROBE topk_default_budget_spill  6Mx in=$nRows%9d " +
          f"out=$rows%9d $secs%7.2fs fallback_tasks=$fallbacks")
        assert(rows == nRows, s"spill probe lost rows: $rows != $nRows")
        assert(fallbacks > 0, "default budget did not trip at 6M near-unique keys")
      } finally priorAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }

    // ANN probe at scaled geometry: 8× corpus with nCells=256 (vs the
    // benched 1×/16) — the claim under test is that probe cost is
    // CELL-proportional (candidates = nProbe × rows/cell, so growing
    // nCells with the corpus holds per-query work ~constant) and that the
    // candidate read stays partition-pruned to the nProbe directories out
    // of nCells. Build cost may grow with corpus×cells — it's the
    // amortized half.
    locally {
      import graft.analytics.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nEmb = emb.count()
      val embMult = 8
      val big = (0 until embMult).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * 10L * nEmb)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint()
      def buildAndProbe(tag: String, corpus: DataFrame, nCells: Int): Unit = {
        val idx = java.nio.file.Files
          .createTempDirectory(s"graft_scale_ann_$tag").toString + "/ivfpq"
        val tb0 = System.nanoTime()
        Similarity.ivfPqIndexBuild(corpus, idx, nCells = nCells, trainMod = 4)
        val buildS = (System.nanoTime() - tb0) / 1e9
        var probeS = 0.0 // 2nd rep = warm per-query latency
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime()
          Similarity.ivfPqProbeTopK(corpus, idx, queryId = 0L, k = 10).count()
          probeS = (System.nanoTime() - t0) / 1e9
        }
        // pruning evidence: a 4-cell read of the inverted lists must list
        // 4/nCells partition directories, measured on the executed scan
        // (cell ids come from the codebook — centroid ids are seeded from
        // sampled vec_ids, not sequential)
        val someCells = spark.read.parquet(s"$idx/codebooks.parquet")
          .filter(col("sub") === -1).select(col("cell_id"))
          .orderBy(col("cell_id")).limit(4).collect().map(_.getLong(0)).toSeq
        val pruned = spark.read.parquet(s"$idx/vectors.parquet")
          .filter(col("cell_id").isin(someCells: _*))
        pruned.queryExecution.toRdd.count()
        val prunedParts = pruned.queryExecution.executedPlan.collectLeaves()
          .collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.metrics.get("numPartitions").map(_.value.toString)
                .getOrElse("?")
          }.getOrElse("?")
        println(f"PROBE ann_probe_$tag%-20s n=${corpus.count()}%8d " +
          f"nCells=$nCells%4d build=$buildS%7.2fs probe_warm=$probeS%5.2fs " +
          s"pruned_dirs=$prunedParts/$nCells")
      }
      buildAndProbe("1x_16", emb, 16)
      buildAndProbe(s"${embMult}x_256", big, 256)
    }
    spark.stop()
  }
}
