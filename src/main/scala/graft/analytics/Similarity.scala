package graft.analytics

import graft.engine.{Catalog, Materialize}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Two paths:
  *
  *   - brute force: broadcast the query vector, score every row, top-k —
  *     the exact baseline, O(N) per query but embarrassingly parallel;
  *   - sign-LSH buckets: pre-bucket by hyperplane sign bits, probe only the
  *     query's bucket — the 100 TB path (bucket key is shuffle/partition
  *     key; with bucketed storage the probe is a single partition read).
  */
object Similarity {

  /** Exact cosine top-k neighbors of `queryId` (excluded from results).
    * The one-row query side is broadcast — no shuffle of the big side.
    */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    // the query norm is constant — compute it once on the broadcast side
    // rather than once per scored row
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        sqrt(normSqDecimal(col("embedding")).cast("double")).as("q_norm"))
    embeddings.filter(col("vec_id") =!= queryId)
      // single-row-group input: spread rows so scoring parallelizes
      .repartition(col("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotDecimal(col("embedding"), col("q_emb")).cast("double") /
          (sqrt(normSqDecimal(col("embedding")).cast("double")) * col("q_norm")),
          6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR 1998) — the reranking step that trades relevance against
    * redundancy when selecting exemplars for a training batch or a
    * retrieval context: greedily pick the candidate maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, ties to the smallest vec_id.
    *
    * Scale shape — the deployed reranker: relevance top-`poolSize` is the
    * distributed exact scan ([[bruteForceTopK]]'s TakeOrdered, or any ANN
    * probe in its place), pairwise sims among the pool are one
    * broadcast-square of poolSize rows, and the greedy k-step loop runs
    * driver-side over the collected poolSize + poolSize² rounded scores
    * (~KiB at poolSize=20; poolSize is a rerank window, not a corpus
    * fraction — it does NOT grow with data). Scores use integer
    * coefficients `(λnum·rel − (1−λ)num·ms)` so no engine ever represents
    * 0.3 ≠ 1−0.7; the emitted score divides by λden and rounds half-up at
    * 6, the same contract as every cosine key.
    */
  def mmrDiverseTopK(
      embeddings: DataFrame,
      queryId: Long = 0L,
      k: Int = 5,
      poolSize: Int = 20,
      lambdaNum: Int = 7,
      lambdaDen: Int = 10): DataFrame = {
    require(k >= 1 && poolSize >= k && lambdaNum >= 0 && lambdaDen >= lambdaNum,
      s"mmrDiverseTopK: need 1 <= k <= poolSize and 0 <= λnum <= λden, " +
        s"got (k=$k, pool=$poolSize, λ=$lambdaNum/$lambdaDen)")
    val spark = embeddings.sparkSession
    val pool = bruteForceTopK(embeddings, queryId, poolSize)
    val pe = embeddings
      .join(broadcast(pool.select(col("vec_id"))), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val ps = pe.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(broadcast(
        pe.select(col("vec_id").as("ib"), col("embedding").as("eb"))))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(dotDecimal(col("ea"), col("eb")).cast("double") /
          (sqrt(normSqDecimal(col("ea")).cast("double")) *
            sqrt(normSqDecimal(col("eb")).cast("double"))), 6).as("s"))
    // bounded collects: poolSize rel rows + poolSize² pair sims, all
    // pre-rounded by the distributed pass — the driver never recomputes a
    // cosine, it only compares and combines the collected doubles
    val rel = pool.collect().map(r => r.getLong(0) -> r.getDouble(1))
    val sim = ps.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val un = lambdaNum.toDouble
    val um = (lambdaDen - lambdaNum).toDouble
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val remaining = scala.collection.mutable.LinkedHashMap(rel: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rank = 1L
    while (rank <= k && remaining.nonEmpty) {
      var bestId = -1L
      var bestRaw = Double.NegativeInfinity
      remaining.foreach { case (id, r) =>
        val ms = if (chosen.isEmpty) 0d
          else chosen.iterator.map(s => sim((id, s))).max
        val raw = un * r - um * ms
        if (raw > bestRaw || (raw == bestRaw && (bestId < 0 || id < bestId))) {
          bestRaw = raw; bestId = id
        }
      }
      out += ((rank, bestId, round6(bestRaw / lambdaDen)))
      chosen += bestId
      remaining.remove(bestId)
      rank += 1
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      out.map(t => Row(t._1, t._2, t._3)).asJava,
      StructType(Seq(StructField("rank", LongType),
        StructField("vec_id", LongType), StructField("score", DoubleType))))
  }

  /** Add the sign-LSH bucket key. At scale, write the table bucketed/
    * partitioned by this column so probes prune to one partition.
    */
  def withSignBucket(embeddings: DataFrame, nBits: Int = 8): DataFrame =
    embeddings.repartition(col("vec_id"))
      .withColumn("bucket", signBucket(col("embedding"), nBits))

  /** ANN top-k restricted to the query's sign-LSH bucket: scans ~N/2^nBits
    * rows instead of N. Exact within the bucket (same scoring as brute
    * force), so recall degrades only across bucket boundaries.
    */
  def lshBucketTopK(embeddings: DataFrame, queryId: Long, k: Int, nBits: Int = 8): DataFrame = {
    val bucketed = withSignBucket(embeddings, nBits)
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket"),
        sqrt(normSqDecimal(col("embedding")).cast("double")).as("q_norm"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), "bucket")
      .select(col("vec_id"),
        round(dotDecimal(col("embedding"), col("q_emb")).cast("double") /
          (sqrt(normSqDecimal(col("embedding")).cast("double")) * col("q_norm")),
          6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Multi-probe LSH top-k: probe the query's bucket AND every bucket at
    * Hamming distance 1 (Lv et al., multi-probe LSH) — recovers most of the
    * recall lost at bucket boundaries for ~(nBits+1)/2^nBits of the scan
    * cost. The probe set is a tiny broadcast relation, so the big side
    * still moves only once.
    */
  def lshMultiProbeTopK(embeddings: DataFrame, queryId: Long, k: Int, nBits: Int = 8): DataFrame = {
    val bucketed = withSignBucket(embeddings, nBits)
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket"),
        sqrt(normSqDecimal(col("embedding")).cast("double")).as("q_norm"))
    // the probe set (bucket + its nBits single-bit flips) is generated
    // lazily on the one-row query side — no driver-side collect
    val probes = q.select(explode(expr(
      s"array_union(array(bucket), transform(sequence(1, $nBits), i -> " +
        "concat(substring(bucket, 1, i - 1), " +
        "CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END, " +
        "substring(bucket, i + 1))))")).as("bucket"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), "bucket")
      .crossJoin(broadcast(q.drop("bucket")))
      .select(col("vec_id"),
        round(dotDecimal(col("embedding"), col("q_emb")).cast("double") /
          (sqrt(normSqDecimal(col("embedding")).cast("double")) * col("q_norm")),
          6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Brute-force top-k on the native codegen'd `float_dot` expression — the
    * throughput path (one tight primitive loop per row inside whole-stage
    * codegen). Results are IEEE-double sequential sums: deterministic, but
    * not DECIMAL-exact like [[bruteForceTopK]], so this path is benchmarked
    * rather than oracle-hashed.
    */
  def fastCosineTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    embeddings.filter(col("vec_id") =!= queryId)
      .repartition(col("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(expr("float_dot(embedding, q_emb)") /
          (sqrt(expr("float_dot(embedding, embedding)")) *
            sqrt(expr("float_dot(q_emb, q_emb)"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Corpus size for the adaptive dials (nlist / queryMod), read from the
    * PRE-repartition input: `repartition` never changes the count, and
    * WHEN the input is a bare stored Parquet table, [[Catalog.rowCount]]
    * sums its footer row counts instead of paying a scan job per key just
    * to pick a dial. An upstream filter or projection makes it a plain
    * (cheap, correct) count job.
    */
  private def countInput(embeddings: DataFrame): Long = Catalog.rowCount(embeddings)

  /** Nearest `n` cells per vector by squared-L2 distance (the k-means
    * metric). Distances are sequential-fold IEEE-double sums rounded to 9
    * decimals, so the argmin order is identical in any engine that folds
    * left-to-right (DuckDB `list_sum` does — verified for the native-dot
    * oracle); ties break on `cell_id`. Output keeps the embedding so callers
    * need no re-join. The centroid side is broadcast — the big side never
    * shuffles for assignment.
    */
  private def assignCells(
      embeddings: DataFrame, centroids: DataFrame, n: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    // Map-only assignment: the ≤ nCells centroids collapse into ONE sorted
    // array row per group (a 16-row aggregate — the only shuffle here),
    // and each vector picks its n nearest cells per row via array_sort +
    // slice over that broadcast array. The previous formulation ranked a
    // crossJoin(N × nCells) with a row_number window — a data-sized
    // shuffle per Lloyd iteration that this removes; at scale, assignment
    // is now pure map work. Sorting struct(d2, cell_id) reproduces the
    // window's (d2 asc, cell_id asc) order exactly, so results (and the
    // DuckDB oracle) are unchanged. `groupCols` trains independent
    // codebooks side by side (PQ subspaces): grouped rows only ever meet
    // same-group centroids, via the broadcast join on the group key.
    val collected = array_sort(collect_list(struct(col("cell_id"), col("c_emb"))))
    // Empty-codebook guard lives HERE, on the cells relation itself, so the
    // n==1 and n>1 consumers carry the exact same fragment above the
    // broadcast subtree and AQE exchange reuse unifies them (a branch-local
    // filter made mixed single-cell/multi-probe plans re-execute this
    // nCells-row reduce+broadcast per consumer). Semantics are unchanged:
    // an empty collect_list means a degenerate no-training-row corpus, and
    // the explode path emits nothing for an empty array anyway — filtering
    // the one aggregate row keeps the same empty-result contract for both
    // branches while letting element_at(cells, 1) stay ANSI-safe in the
    // argmin fast path.
    val cells = (
      if (groupCols.isEmpty) centroids.agg(collected.as("cells"))
      else centroids.groupBy(groupCols.map(col): _*).agg(collected.as("cells"))
    ).filter(size(col("cells")) >= 1)
    val joined =
      if (groupCols.isEmpty) embeddings.crossJoin(broadcast(cells))
      else embeddings.join(broadcast(cells), groupCols)
    // the native l2_sq reproduces the HOF zip_with/aggregate fold exactly
    // (sequential IEEE sums, round applied outside) — the vector×centroid
    // distance is the per-row hot loop of every Lloyd iteration and probe
    val d2 = "round(l2_sq(embedding, c.c_emb), 9)"
    val g = groupCols.map(col)
    if (n == 1) {
      // argmin fast path for the dominant case (every Lloyd iteration and
      // every index assignment): the fused codegen kernel `l2_argmin_idx`
      // — one generated Java loop per vector over the broadcast codebook,
      // each distance computed exactly once. The interpreted `aggregate`
      // fold it replaces was thread-dump-measured as THE bottleneck of
      // the 20M-vector hierarchical build (~35+ of 56.5 CPU-hours): an
      // interpreted lambda dispatch per cell per vector, with `l2_sq`
      // evaluated twice per cell (once in the IF predicate, once in the
      // replacement struct — HOF lambdas get no subexpression
      // elimination). The kernel keeps the fold's exact semantics —
      // sequential IEEE sums rounded HALF_UP to 9 decimals, cells visited
      // in ascending cell_id order (the collected array is array_sort'ed),
      // strict `<` so ties keep the smaller cell_id — so the oracles are
      // untouched; see `NativeExpressions.L2ArgminIdx`.
      joined
        .select(g ++ Seq(col("vec_id"),
          expr("element_at(cells, l2_argmin_idx(cells, embedding)).cell_id")
            .as("cell_id"),
          col("embedding")): _*)
    } else joined
      .select(g ++ Seq(col("vec_id"), col("embedding"),
        explode(expr(
          s"slice(array_sort(transform(cells, c -> " +
            s"struct($d2 AS d2, c.cell_id AS cell_id))), 1, $n)")).as("a")): _*)
      .select(g ++ Seq(col("vec_id"), col("a.cell_id").as("cell_id"),
        col("embedding")): _*)
  }

  /** Deterministic fixed-seed k-means coarse quantizer: centroids start at
    * the training set's first `nCells` vectors (the fixed seed) and take
    * `iters` Lloyd iterations, all as DataFrame ops — assignment is a
    * broadcast cross-join argmin, the centroid update is one posexplode +
    * groupBy per iteration.
    *
    * `trainMod` sub-samples the training set deterministically
    * (`vec_id % trainMod = 0`) — the standard quantizer-training practice
    * at corpus scale: you never run Lloyd over 100 TB of vectors, you train
    * on a sample and assign everything. Sampling only changes which
    * centroids come out, never the exactness of the downstream assignment.
    *
    * Engine-exact on purpose, so a DuckDB oracle can mirror it: per-dimension
    * means accumulate in DECIMAL (order-independent, exact) and divide once
    * in IEEE double; assignment distances are rounded sequential double sums
    * (see [[assignCells]]). A cell that loses all members simply drops out of
    * the next iteration — mirrored naturally by the oracle's join shape.
    *
    * Returns (cell_id, c_emb: Array[Double]).
    */
  def kMeansCentroids(
      embeddings: DataFrame, nCells: Int = 16, iters: Int = 3,
      trainMod: Int = 1, groupCols: Seq[String] = Nil): DataFrame = {
    val g = groupCols.map(col)
    val train =
      if (trainMod <= 1) embeddings
      else embeddings.filter(col("vec_id") % trainMod === 0)
    val seed = train.filter(col("vec_id") < nCells.toLong * trainMod)
      .select(g ++ Seq(col("vec_id").as("cell_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_emb")): _*)
    lloydIterate(train, seed, iters, groupCols)
  }

  /** The Lloyd iteration body shared by every quantizer here (one
    * definition, so a precision tweak cannot desynchronize the flat and
    * hierarchical builds): assignment via [[assignCells]] (broadcast
    * argmin), per-dimension DECIMAL(18,16)-exact sums divided once in
    * double, centroids re-collected per (group, cell). Callers differ only
    * in how they SEED — [[kMeansCentroids]] takes the first nCells train
    * vectors globally; the hierarchical sub-level seeds per parent cell.
    */
  private def lloydIterate(
      train: DataFrame, seed: DataFrame, iters: Int,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    var centroids = seed
    for (_ <- 1 to iters) {
      centroids = assignCells(train, centroids, 1, groupCols)
        .select(g ++ Seq(col("cell_id"),
          posexplode(col("embedding")).as(Seq("pos", "x"))): _*)
        .groupBy(g ++ Seq(col("cell_id"), col("pos")): _*)
        .agg(
          sum(col("x").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 16))).as("s"),
          count(lit(1)).as("n"))
        .select(g ++ Seq(col("cell_id"), col("pos"),
          (col("s").cast("double") / col("n").cast("double")).as("v")): _*)
        .groupBy(g :+ col("cell_id"): _*)
        .agg(expr("transform(array_sort(collect_list(struct(pos, v))), p -> p.v)")
          .as("c_emb"))
    }
    centroids
  }

  /** IVF (inverted-file) ANN: the k-means coarse quantizer assigns every
    * vector to its nearest centroid cell; a query probes only the `nProbe`
    * cells nearest to it, then scores candidates by exact cosine. At scale
    * the cell id is the partition/bucket key, so a probe reads
    * nProbe/nCells of the data — and because the centroids are real k-means
    * cell centers (not arbitrary seed vectors), cell populations track the
    * data distribution and probe recall holds on real corpora.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      trainMod: Int = 1): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    // 16 rows consumed by two assignment passes — cut the 3-iteration
    // window/agg lineage once
    val centroids =
      Materialize.local(kMeansCentroids(spread, nCells, iters, trainMod))

    // index: each vector in exactly its nearest cell
    val indexed = assignCells(spread, centroids, 1)
    // query: probe the nProbe nearest cells
    val q = embeddings.filter(col("vec_id") === queryId)
    val probeCells = assignCells(q, centroids, nProbe)
      .select(col("cell_id")).distinct()
    val qEmb = broadcast(q.select(col("embedding").as("q_emb")))
    indexed
      .join(broadcast(probeCells), "cell_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(qEmb)
      .select(col("vec_id"),
        round(expr("float_dot(embedding, q_emb)") /
          (sqrt(expr("float_dot(embedding, embedding)")) *
            sqrt(expr("float_dot(q_emb, q_emb)"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Cluster-balanced selection (the shape of SemDeDup-style pruning and
    * DCLM's cluster-quota curation): train the deterministic k-means
    * quantizer on a 1-in-`trainMod` sample, assign every vector map-only
    * against the broadcast centroids, then keep a fixed per-cell quota —
    * the `perCell` lowest vec_ids of each cell. The quota stops dense
    * embedding modes from dominating a curated sample; it runs on the
    * bounded-heap [[graft.plans.TopKPerKey]] operator, so no global sort
    * or window ever touches the corpus (O(n log k) per partition,
    * k-row-per-cell shuffle). Reference has no curation tier; SURVEY §7.5
    * extension contract.
    */
  def clusterBalancedSample(
      embeddings: DataFrame,
      nCells: Int = 16,
      iters: Int = 2,
      trainMod: Int = 4,
      perCell: Int = 10)
      : DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val centroids =
      Materialize.local(kMeansCentroids(spread, nCells, iters, trainMod))
    val assigned = assignCells(spread, centroids, 1)
      .select(col("cell_id"), col("vec_id"))
    graft.plans.TopKPerKey.topKPerKey(
      assigned, Seq("cell_id"), Seq("vec_id"), perCell)
  }

  /** Product-quantization ANN (Jégou et al., PQ with asymmetric distance
    * computation): the embedding is split into `m` contiguous subspaces,
    * each with its own k-means codebook of `ksub` centroids (the same
    * deterministic Lloyd quantizer as IVF, run per subspace), and every
    * vector is encoded as its `m` nearest-centroid codes. A query builds one
    * tiny distance table per subspace (ksub entries: squared-L2 from the
    * query's sub-vector to each centroid), and each candidate's approximate
    * distance is the SUM of `m` table lookups — never a full-dimension scan.
    * The ADC shortlist (`shortK` by approximate distance) is then re-ranked
    * by exact cosine.
    *
    * This is the memory story at 100 TB: a 64-dim float vector is 256
    * bytes, its PQ code is `m` small ints — the index fits in RAM at
    * corpus scale, with the exact vectors touched only for the shortlist.
    * The distance tables are broadcast (m·ksub rows); codes shuffle once on
    * vec_id for the per-vector sum (on a real deployment codes are stored
    * as m columns and the sum is map-only).
    *
    * Oracle-exact: per-table distances are rounded sequential double sums
    * (same contract as [[assignCells]]) accumulated as DECIMAL(38,9) — an
    * order-independent exact sum — and both the shortlist and final rank
    * tie-break on vec_id.
    */
  def pqTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      m: Int = 4,
      subDim: Int = 16,
      ksub: Int = 16,
      iters: Int = 2,
      shortK: Int = 50,
      trainMod: Int = 1): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val q = embeddings.filter(col("vec_id") === queryId)

    // one row per (vector, subspace): ALL m sub-quantizers train, encode
    // and probe through a single chain of jobs over this stacked relation
    // (m independent Lloyd chains would serialize m× the stages for the
    // same math — measured 3× slower on the fixture). Training and
    // assignment are the SAME grouped kMeansCentroids/assignCells the IVF
    // path uses, keyed by the subspace column — one definition of the
    // engine-exact Lloyd contract.
    def stack(df: DataFrame): DataFrame = df.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))
    val stacked = stack(spread)

    // codebooks consumed by the encode pass and the distance tables — cut
    // the Lloyd lineage once
    val codebooks = Materialize.local(
      kMeansCentroids(stacked, ksub, iters, trainMod, groupCols = Seq("sub")))

    val codes = assignCells(stacked, codebooks, 1, groupCols = Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cell_id"))
    val dtab = codebooks
      .join(broadcast(stack(q).select(col("sub"), col("embedding").as("qe"))), "sub")
      .select(col("sub"), col("cell_id"),
        expr(AdcDistExpr).cast("decimal(38,9)").as("d2q"))

    val shortlist = codes
      .join(broadcast(dtab), Seq("sub", "cell_id"))
      .groupBy(col("vec_id")).agg(sum(col("d2q")).as("adc"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(shortK)

    val qEmb = broadcast(q.select(col("embedding").as("q_emb")))
    shortlist.join(spread, Seq("vec_id"))
      .crossJoin(qEmb)
      .select(col("vec_id"),
        round(expr("float_dot(embedding, q_emb)") /
          (sqrt(expr("float_dot(embedding, embedding)")) *
            sqrt(expr("float_dot(q_emb, q_emb)"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** PQ codebook quality evaluation: per-subspace vector count, total and
    * mean squared reconstruction error of the trained product-quantizer
    * codebooks over the full corpus — the number that tells you whether
    * `ksub`/`subDim` are adequate BEFORE deploying the index (rising MSE
    * on fresh batches is also the retrain signal for the no-retrain
    * ingest path, [[ivfIndexAppend]]-style). Same stacked grouped-Lloyd
    * train + assign as [[pqTopK]] — this is the eval of exactly the
    * codebooks the index serves, not a re-derivation; the scan is one
    * pass and the output is `m` rows. Squared errors accumulate in
    * DECIMAL(38,9) (partitioning-independent), emitted as the double
    * image per the house compare rule.
    */
  def pqReconstructionError(
      embeddings: DataFrame,
      m: Int = 4,
      subDim: Int = 16,
      ksub: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val stacked = spread.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))
    val codebooks =
      kMeansCentroids(stacked, ksub, iters, trainMod, groupCols = Seq("sub"))
    assignCells(stacked, codebooks, 1, groupCols = Seq("sub"))
      .join(broadcast(codebooks), Seq("sub", "cell_id"))
      .select(col("sub"),
        expr("round(l2_sq(embedding, c_emb), 9)")
          .cast("decimal(38,9)").as("se"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("se")).as("sse_dec"))
      .select(col("sub"), col("n_vectors"),
        col("sse_dec").cast("double").as("sse"),
        (col("sse_dec").cast("double") / col("n_vectors")).as("mse"))
  }

  /** IVF-PQ — the production ANN index composition (Jégou et al. §IV:
    * IVFADC): the IVF coarse quantizer restricts the candidate set to the
    * `nProbe` cells nearest the query, and ONLY those candidates are scored
    * by the PQ asymmetric-distance tables, then the shortlist is re-ranked
    * by exact cosine. Both halves are the same deterministic engine-exact
    * components the standalone paths use ([[kMeansCentroids]]/
    * [[assignCells]] for the coarse quantizer AND the per-subspace
    * codebooks), so one oracle contract covers all three keys.
    *
    * 100 TB shape: the coarse cell id is the partition/bucket key (a probe
    * reads nProbe/nCells of the index); PQ codes for the whole corpus are
    * precomputed at index-build time and stored as `m` small-int columns,
    * so query-time ADC is table lookups over the probed cells only. Here
    * the encode runs over the candidates (identical codes — encoding is
    * deterministic per vector), which is the query-cost shape: every
    * per-candidate operation is a broadcast-table lookup, never a
    * full-dimension scan; only the shortlist touches exact vectors.
    *
    * Training cost trick: the coarse quantizer is trained as group `-1` of
    * the SAME grouped Lloyd chain as the `m` subspace codebooks (its group
    * carries the full vector, theirs the slices), so the whole index build
    * is ONE chain of jobs — two serialized chains measured ~1.7× the
    * wall-clock for identical math. Corollary: the codebook size equals
    * `nCells` and the iteration/sample schedule is shared — the standalone
    * [[ivfTopK]]/[[pqTopK]] keep the independently-tuned variants.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
      m: Int = 4,
      subDim: Int = 16,
      shortK: Int = 50,
      trainMod: Int = 1): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val q = embeddings.filter(col("vec_id") === queryId)

    // sub = -1 carries the full vector (the coarse quantizer's group);
    // subs 0..m-1 carry the PQ slices
    def stackSub(df: DataFrame): DataFrame = df.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))
    def stackAll(df: DataFrame): DataFrame = df.select(col("vec_id"),
      posexplode(array(col("embedding") +: (0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("p", "embedding")))
      .select(col("vec_id"), (col("p") - 1).as("sub"), col("embedding"))
    val trained = Materialize.local(
      kMeansCentroids(stackAll(spread), nCells, iters, trainMod,
        groupCols = Seq("sub")))
    val coarse = trained.filter(col("sub") === -1).drop("sub")
    val codebooks = trained.filter(col("sub") =!= -1)

    // ---- IVF half: probe restriction against the coarse cells ----
    val indexed = assignCells(spread, coarse, 1)
    val probeCells = assignCells(q, coarse, nProbe)
      .select(col("cell_id")).distinct()
    val cand = indexed
      .join(broadcast(probeCells), "cell_id")
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"))

    // ---- PQ half: ADC table lookups over the candidates only ----
    val codes = assignCells(stackSub(cand), codebooks, 1, groupCols = Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cell_id"))
    val dtab = codebooks
      .join(broadcast(stackSub(q).select(col("sub"), col("embedding").as("qe"))), "sub")
      .select(col("sub"), col("cell_id"),
        expr(AdcDistExpr).cast("decimal(38,9)").as("d2q"))
    val shortlist = codes
      .join(broadcast(dtab), Seq("sub", "cell_id"))
      .groupBy(col("vec_id")).agg(sum(col("d2q")).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(shortK)

    val qEmb = broadcast(q.select(col("embedding").as("q_emb")))
    shortlist.join(spread, Seq("vec_id"))
      .crossJoin(qEmb)
      .select(col("vec_id"),
        round(expr("float_dot(embedding, q_emb)") /
          (sqrt(expr("float_dot(embedding, embedding)")) *
            sqrt(expr("float_dot(q_emb, q_emb)"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch k-NN JOIN — top-k cosine neighbors for EVERY vector at once, the
    * production shape behind SemDeDup, retrieval-augmented dataset
    * construction and hard-negative mining at corpus scale (the single-
    * query `*TopK` paths answer interactive probes; pipelines need the
    * join). IVF candidate cut: every vector is indexed in its nearest
    * k-means cell and queries its `nProbe` nearest cells, so the pair
    * space is N·nProbe/nCells per cell instead of N² — at 100 TB the cell
    * id is the shuffle/bucket key and `nCells` grows ∝ corpus so cells
    * stay constant-sized (the FAISS regime). Per-pair scoring is one
    * codegen'd `float_dot` (norms precomputed once per side), and the
    * per-query top-k runs on the custom bounded-heap [[graft.plans
    * .TopKPerKey]] operator — O(n log k) per partition, no window sort
    * buffer, clustered on the query id.
    *
    * A (query, neighbor) pair is generated at most once: the neighbor's
    * index cell is unique (argmin), and the query's probe cells are
    * distinct. Queries whose probed cells hold no other vector emit fewer
    * than k rows (inner-join semantics, mirrored by the oracle).
    */
  /** k-occurrence hubness histogram (Radovanović et al., "Hubs in
    * space", JMLR 2010) — the ANN-index health check for intrinsic-
    * dimensionality pathology: N_k(x) = how many vectors list x among
    * their k nearest neighbors. A heavy right tail (hub vectors with
    * N_k >> k) predicts degraded recall and skewed retrieval; the
    * histogram (n_k, n_vectors), including the orphan row at n_k = 0,
    * is the whole distribution. One rollup over the [[knnJoinIvf]]
    * result — the k-NN join does all the heavy lifting.
    */
  def knnHubnessHistogram(embeddings: DataFrame, k: Int = 3): DataFrame = {
    val knn = knnJoinIvf(embeddings, k)
    // deliberately NOT lineage-cut: AQE stage reuse already shares the
    // k-NN chain between the two occ consumers — A/B r17 at sf0.1: uncut
    // warm 2.11-2.23 s vs Materialize.local(occ) 2.37-2.59 s (the
    // single-partition checkpoint serializes more than the reuse saves)
    val occ = knn.groupBy(col("nbr_id")).agg(count(lit(1)).as("n_k"))
    val hist = occ.groupBy(col("n_k")).agg(count(lit(1)).as("n_vectors"))
    val tot = embeddings.agg(count(lit(1)).as("n_total"))
    val seen = occ.agg(count(lit(1)).as("n_seen"))
    hist.unionAll(
      tot.crossJoin(broadcast(seen))
        .select(lit(0L).as("n_k"), (col("n_total") - col("n_seen")).as("n_vectors"))
        .filter(col("n_vectors") > 0L))
  }

  def knnJoinIvf(
      embeddings: DataFrame,
      k: Int,
      nCells: Int = -1,
      nProbe: Int = 2,
      iters: Int = 2,
      trainMod: Int = 4): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    // nCells < 0 (default) turns the documented FAISS dial automatically:
    // 2^max(4, bitlength(n/4096)) — cells grow ∝ corpus so per-cell
    // population (and the join's per-cell quadratic term) stays bounded.
    // The fixed-16 form measured 443 s at 100× the bench scale (500k
    // vectors: every query scanned ~62k candidates); adaptive cells keep
    // the candidate volume near-linear. All oracle gate scales land on
    // the historical 16, so the unrolled 16-centroid oracle chain is
    // exact wherever it runs. The one driver scalar is a count.
    val cells =
      if (nCells > 0) nCells
      else {
        val n = countInput(embeddings)
        val bl = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
        1 << math.min(12, math.max(4, bl))
      }
    val centroids =
      Materialize.local(kMeansCentroids(spread, cells, iters, trainMod))
    val indexed = assignCells(spread, centroids, 1)
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .select(col("cell_id"), col("vec_id").as("nbr_id"),
        col("embedding").as("n_emb"), col("nrm"))
    val probes = assignCells(spread, centroids, nProbe)
      .withColumn("qnrm", sqrt(expr("float_dot(embedding, embedding)")))
    val pairs = probes.join(indexed, Seq("cell_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(expr("float_dot(embedding, n_emb)") / (col("qnrm") * col("nrm")), 6)
          .as("sim"))
      .withColumn("neg_sim", -col("sim"))
    graft.plans.TopKPerKey.topKPerKey(
        pairs, Seq("vec_id"), Seq("neg_sim", "nbr_id"), k)
      .drop("neg_sim")
  }

  /** Residual-encoding IVFADC — the textbook Jégou et al. §IV form of
    * [[ivfPqTopK]]: PQ codebooks are trained on RESIDUALS `x − centroid(x)`
    * (what remains after the coarse quantizer explains the vector), which
    * concentrates the codebooks' capacity on the within-cell variance —
    * tighter ADC at the same bits. The price is a serialized build (coarse
    * Lloyd → residuals → PQ Lloyd; the raw-vector variant's single joint
    * chain is impossible because residuals need the trained coarse first)
    * and per-PROBED-CELL query distance tables (the query residual differs
    * per cell) — still a tiny nProbe·m·ksub broadcast.
    *
    * Residuals are narrowed to FLOAT (round-to-nearest, deterministic in
    * any engine — and exactly what a float32 index stores), so the whole
    * residual pipeline reuses the same float-typed Lloyd/assignment/`l2_sq`
    * contract as every other quantizer here, and the oracle replays it
    * bit-for-bit.
    */
  def ivfPqResidualTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      coarseIters: Int = 2,
      coarseTrainMod: Int = 4,
      m: Int = 4,
      subDim: Int = 16,
      ksub: Int = 16,
      pqIters: Int = 2,
      pqTrainMod: Int = 4,
      shortK: Int = 50): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val q = embeddings.filter(col("vec_id") === queryId)
    val residCol = expr(
      "zip_with(embedding, c_emb, (e, c) -> CAST(CAST(e AS DOUBLE) - c AS FLOAT))")

    // coarse quantizer + full-corpus residuals
    val coarse =
      Materialize.local(
        kMeansCentroids(spread, nCells, coarseIters, coarseTrainMod))
    val af = assignCells(spread, coarse, 1)
    val resid = Materialize.local(af.join(broadcast(coarse), Seq("cell_id"))
      .select(col("vec_id"), col("cell_id"), residCol.as("embedding")))

    def stackSub(df: DataFrame): DataFrame = df.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))
    val codebooks = Materialize.local(
      kMeansCentroids(stackSub(resid.select(col("vec_id"), col("embedding"))),
        ksub, pqIters, pqTrainMod, groupCols = Seq("sub")))

    // probe restriction; candidates carry their coarse cell for the
    // per-cell distance-table lookup
    val probeCells = assignCells(q, coarse, nProbe)
      .select(col("cell_id")).distinct()
    val cand = resid.join(broadcast(probeCells), Seq("cell_id"))
      .filter(col("vec_id") =!= queryId)
    val codes = assignCells(
        stackSub(cand.select(col("vec_id"), col("embedding"))),
        codebooks, 1, groupCols = Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cell_id"))
      .join(cand.select(col("vec_id"), col("cell_id").as("pcell")), Seq("vec_id"))

    // per-probed-cell query residual -> per-cell ADC tables
    val qRes = probeCells.join(broadcast(coarse), Seq("cell_id"))
      .crossJoin(broadcast(q.select(col("embedding"))))
      .select(col("cell_id").as("pcell"), residCol.as("embedding"))
    val qStack = qRes.select(col("pcell"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "qe")))
    val dtab = codebooks.join(broadcast(qStack), Seq("sub"))
      .select(col("pcell"), col("sub"), col("cell_id"),
        expr(AdcDistExpr).cast("decimal(38,9)").as("d2q"))

    val shortlist = codes
      .join(broadcast(dtab), Seq("pcell", "sub", "cell_id"))
      .groupBy(col("vec_id")).agg(sum(col("d2q")).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(shortK)

    val qEmb = broadcast(q.select(col("embedding").as("q_emb")))
    shortlist.join(spread, Seq("vec_id"))
      .crossJoin(qEmb)
      .select(col("vec_id"),
        round(expr("float_dot(embedding, q_emb)") /
          (sqrt(expr("float_dot(embedding, embedding)")) *
            sqrt(expr("float_dot(q_emb, q_emb)"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Squared-L2 from a codebook centroid `c_emb` to the query sub-vector
    * `qe` — the ADC distance-table entry, under the same rounded
    * sequential-double-sum contract as [[assignCells]] (one definition for
    * the PQ and IVF-PQ paths).
    */
  private val AdcDistExpr: String =
    "round(aggregate(zip_with(c_emb, qe, " +
      "(cc, e) -> (CAST(e AS DOUBLE) - cc) * (CAST(e AS DOUBLE) - cc)), " +
      "CAST(0 AS DOUBLE), (acc, x) -> acc + x), 9)"

  /** ANN recall evaluation — the index-quality measurement a deployment
    * runs before trusting an approximate index: for a deterministic sample
    * of query vectors (`vec_id % queryMod = 0`), compute exact cosine
    * top-k (the ground truth) AND the IVF-probed top-k, and report per
    * query how many of the true top-k the index recovered. Output
    * (vec_id, n_hits) is integer-exact, so the whole evaluation —
    * including the index build it exercises — hash-checks against the
    * oracle.
    *
    * Shape at scale: recall is always measured on a sampled query set
    * (ground truth is O(|Q|·N) — the broadcast query side keeps the
    * corpus scan at one pass); the approximate side reuses the exact
    * cell-cut shape of [[knnJoinIvf]] restricted to the queries. Both
    * top-k's run on the bounded-heap TopKPerKey operator.
    */
  def annRecallIvf(
      embeddings: DataFrame,
      k: Int = 10,
      queryMod: Long = -1L,
      nCells: Int = -1,
      nProbe: Int = 4,
      iters: Int = 2,
      trainMod: Int = 4): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    // defaults < 0 adapt both dials to the corpus: queryMod = max(100,
    // n/500) caps the sampled query set at ~500, so the brute-force truth
    // stays O(500·n) — a FIXED-FRACTION sample (the old % 100) makes the
    // truth scan n²/100, quadratic; and nCells follows the shared
    // FAISS-nlist rule so the eval measures the SAME index config the
    // deployed build uses. All oracle gate scales land on the historical
    // (100, 16), so the unrolled oracle chains hold where they run.
    val (qMod, cells) = {
      lazy val n = countInput(embeddings)
      val qm = if (queryMod > 0) queryMod else math.max(100L, n / 500L)
      val c =
        if (nCells > 0) nCells
        else {
          val bl =
            64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
          1 << math.min(12, math.max(4, bl))
        }
      (qm, c)
    }
    val qs = spread.filter(col("vec_id") % qMod === 0)
    val qSide = broadcast(qs.select(col("vec_id").as("qid"),
      col("embedding").as("q_emb"),
      sqrt(expr("float_dot(embedding, embedding)")).as("qn")))
    def topPerQuery(pairs: DataFrame): DataFrame =
      graft.plans.TopKPerKey.topKPerKey(
          pairs.withColumn("neg_sim", -col("sim")),
          Seq("qid"), Seq("neg_sim", "nbr"), k)
        .select(col("qid"), col("nbr"))

    // ground truth: one corpus pass against the broadcast query set
    val exactTop = topPerQuery(spread
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .crossJoin(qSide)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(expr("float_dot(embedding, q_emb)") / (col("nrm") * col("qn")), 6)
          .as("sim")))

    // approximate: the IVF cell cut, probes computed for the queries only
    val centroids =
      Materialize.local(kMeansCentroids(spread, cells, iters, trainMod))
    val indexed = assignCells(spread, centroids, 1)
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .select(col("cell_id"), col("vec_id").as("nbr"),
        col("embedding").as("n_emb"), col("nrm"))
    val probes = assignCells(qs, centroids, nProbe)
      .select(col("vec_id").as("qid"), col("cell_id"))
    val approxTop = topPerQuery(probes
      .join(indexed, Seq("cell_id"))
      .filter(col("qid") =!= col("nbr"))
      .join(qSide, Seq("qid"))
      .select(col("qid"), col("nbr"),
        round(expr("float_dot(n_emb, q_emb)") / (col("nrm") * col("qn")), 6)
          .as("sim")))

    val hits = exactTop.join(approxTop, Seq("qid", "nbr"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
    qs.select(col("vec_id"))
      .join(hits.select(col("qid").as("vec_id"), col("n")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n"), lit(0L)).as("n_hits"))
  }

  /** ANN recall CURVE — [[annRecallIvf]] swept across probe widths in ONE
    * pass: the ground truth (the expensive corpus × queries scan), the
    * coarse quantizer, and the corpus cell assignment are computed once
    * and pinned; each curve point adds only a map-only probe assignment
    * over the sampled queries and a probed-cell top-k. Output
    * (nprobe, vec_id, n_hits) — the recall-vs-cost curve is the artifact
    * an IVF deployment tunes nProbe from (recall rises with nProbe, and
    * so does the fraction of the index scanned; the knee is the setting).
    */
  def annRecallCurveIvf(
      embeddings: DataFrame,
      k: Int = 10,
      queryMod: Long = -1L,
      nCells: Int = -1,
      probes: Seq[Int] = Seq(1, 2, 4),
      iters: Int = 2,
      trainMod: Int = 4): DataFrame = {
    require(probes.nonEmpty, "annRecallCurveIvf: need at least one probe width")
    val spread = embeddings.repartition(col("vec_id"))
    // same adaptive dials as annRecallIvf: ~500-query truth (linear) and
    // the deployed adaptive-nlist cell count; gate scales land on (100, 16)
    val (qMod, cells) = {
      lazy val n = countInput(embeddings)
      val qm = if (queryMod > 0) queryMod else math.max(100L, n / 500L)
      val c =
        if (nCells > 0) nCells
        else {
          val bl =
            64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
          1 << math.min(12, math.max(4, bl))
        }
      (qm, c)
    }
    val qs = spread.filter(col("vec_id") % qMod === 0)
    val qSide = broadcast(qs.select(col("vec_id").as("qid"),
      col("embedding").as("q_emb"),
      sqrt(expr("float_dot(embedding, embedding)")).as("qn")))
    def topPerQuery(pairs: DataFrame): DataFrame =
      graft.plans.TopKPerKey.topKPerKey(
          pairs.withColumn("neg_sim", -col("sim")),
          Seq("qid"), Seq("neg_sim", "nbr"), k)
        .select(col("qid"), col("nbr"))
    val exactTop = Materialize.local(topPerQuery(spread
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .crossJoin(qSide)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(expr("float_dot(embedding, q_emb)") / (col("nrm") * col("qn")), 6)
          .as("sim"))))
    val centroids =
      Materialize.local(kMeansCentroids(spread, cells, iters, trainMod))
    val indexed = Materialize.local(assignCells(spread, centroids, 1)
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .select(col("cell_id"), col("vec_id").as("nbr"),
        col("embedding").as("n_emb"), col("nrm")))
    probes.map { p =>
      val probeCells = assignCells(qs, centroids, p)
        .select(col("vec_id").as("qid"), col("cell_id"))
      val approxTop = topPerQuery(probeCells
        .join(indexed, Seq("cell_id"))
        .filter(col("qid") =!= col("nbr"))
        .join(qSide, Seq("qid"))
        .select(col("qid"), col("nbr"),
          round(expr("float_dot(n_emb, q_emb)") / (col("nrm") * col("qn")), 6)
            .as("sim")))
      val hits = exactTop.join(approxTop, Seq("qid", "nbr"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n"))
      qs.select(col("vec_id"))
        .join(hits.select(col("qid").as("vec_id"), col("n")), Seq("vec_id"), "left")
        .select(lit(p.toLong).as("nprobe"), col("vec_id"),
          coalesce(col("n"), lit(0L)).as("n_hits"))
    }.reduce(_ unionByName _)
  }

  /** Incremental IVF index maintenance — the ingest path at corpus scale:
    * the coarse quantizer trains ONCE (on the existing corpus, on its
    * deterministic subsample) and every new batch is just ASSIGNED to the
    * frozen centroids — a broadcast map-only pass over the batch, never a
    * retrain and never a touch of the existing index. Returns the batch's
    * (vec_id, cell_id) index entries; a deployment appends them to the
    * cell-partitioned index table (and re-trains offline only when drift
    * metrics say so — the standard FAISS/Milvus operating practice).
    */
  def ivfIndexAppend(
      existing: DataFrame,
      batch: DataFrame,
      nCells: Int = 16,
      iters: Int = 2,
      trainMod: Int = 4): DataFrame = {
    val centroids = Materialize.local(kMeansCentroids(
      existing.repartition(col("vec_id")), nCells, iters, trainMod))
    assignCells(batch.repartition(col("vec_id")), centroids, 1)
      .select(col("vec_id"), col("cell_id"))
  }

  /** Deterministic on-disk location for a corpus directory's materialized
    * ANN indexes (build-once, probe-many). /tmp-rooted for the local
    * harness; a deployment passes its own warehouse path to the build/probe
    * pair instead.
    */
  def defaultIndexDir(dataDir: String): String = {
    // slug alone can collide ('sf_1-x' vs 'sf_1/x' both → 'sf_1_x'); the
    // path-hash suffix makes distinct corpus dirs map to distinct index
    // dirs, so the JVM-lifetime freshness memo can never answer a probe
    // from another corpus's index
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)
    "/tmp/graft_ann_index/" +
      dataDir.replaceAll("[^A-Za-z0-9]", "_") + "_" + digest
  }

  private def stackSubDf(df: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "embedding")))

  /** BUILD half of the deployed IVF-PQ index ([[ivfPqTopK]] is the fused
    * single-query form; a deployment runs THIS once and then answers every
    * query with [[ivfPqProbeTopK]]): train the coarse quantizer + `m`
    * subspace codebooks (one grouped Lloyd chain, identical math to the
    * fused path), then materialize
    *
    *   - `codebooks.parquet` — (sub, cell_id, c_emb); sub = -1 is the
    *     coarse quantizer (a few KiB, broadcast at probe time), and
    *   - `codes.parquet` — (vec_id, sub, code) PARTITIONED BY the coarse
    *     `cell_id`, so a probe's nProbe cells are a partition-pruned read
    *     of nProbe/nCells of the index — the FAISS inverted-list layout in
    *     Parquet directories,
    *
    * plus `meta.parquet` (corpus row count + id sum) so
    * [[ivfPqIndexBuildIfStale]] can detect a regenerated corpus. The
    * amortization is the point: k-means training dominates the fused
    * query's cost, and it happens once here, off the query path.
    */
  def ivfPqIndexBuild(
      embeddings: DataFrame,
      indexDir: String,
      nCells: Int = 16,
      iters: Int = 2,
      m: Int = 4,
      subDim: Int = 16,
      trainMod: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    // Build into a sibling temp dir, then swap it in with directory
    // renames: a concurrent reader in another process sees either the old
    // complete index or the new complete index, never a half-written one.
    val tmpDir = indexDir + ".build-" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName.hashCode.toHexString
    val spread = embeddings.repartition(col("vec_id"))
    def stackAll(df: DataFrame): DataFrame = df.select(col("vec_id"),
      posexplode(array(col("embedding") +: (0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*))
        .as(Seq("p", "embedding")))
      .select(col("vec_id"), (col("p") - 1).as("sub"), col("embedding"))
    val trained = Materialize.local(
      kMeansCentroids(stackAll(spread), nCells, iters, trainMod,
        groupCols = Seq("sub")))
    trained.write.mode("overwrite").parquet(s"$tmpDir/codebooks.parquet")
    val codebooks = spark.read.parquet(s"$tmpDir/codebooks.parquet")
    val coarse = codebooks.filter(col("sub") === -1).drop("sub")
    val pq = codebooks.filter(col("sub") =!= -1)
    // consumed by BOTH index writes (codes, vectors) — cut once
    val cells = Materialize.local(assignCells(spread, coarse, 1)
      .select(col("vec_id"), col("cell_id")))
    val codes = Materialize.local(
      assignCells(stackSubDf(spread, m, subDim), pq, 1, groupCols = Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cell_id").as("code")))
    // repartition on cell_id before partitionBy: each cell directory gets
    // ONE compact file instead of one per write task (~32× fewer files —
    // a probe's scan cost is per-file open + footer, so compact lists are
    // the FAISS-file equivalent; the extra build-time shuffle is the
    // amortized half). On a cluster, cap file size via maxRecordsPerFile.
    cells.join(codes, Seq("vec_id"))
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$tmpDir/codes.parquet")
    // the FAISS inverted lists proper: full vectors + precomputed norms +
    // the PQ code array (ordered by sub), partitioned by coarse cell.
    // Carrying the codes here lets the single-query probe answer from ONE
    // pruned scan (ADC is a projection against the literal m×ksub distance
    // table — no join, no shuffle); the batch probe ([[knnJoinIvfProbe]])
    // column-prunes the codes away. The duplicated codes cost m bytes per
    // vector next to dim×4 vector bytes — noise at any scale.
    val codesArr = codes.groupBy(col("vec_id")).agg(
      expr("transform(array_sort(collect_list(struct(sub, code))), x -> x.code)")
        .as("codes"))
    cells.join(spread, Seq("vec_id")).join(codesArr, Seq("vec_id"))
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$tmpDir/vectors.parquet")
    corpusSignature(embeddings).withColumn("fmt", lit(IndexFormatVersion))
      .write.mode("overwrite").parquet(s"$tmpDir/meta.parquet")
    // swap: local-fs directory rename (the harness path); a deployment on
    // an object store would publish a new index prefix in its catalog
    // instead — renames there are not atomic
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(hadoopConf)
    val dst = new org.apache.hadoop.fs.Path(indexDir)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpDir), dst)
    dropCachedIndex(indexDir)
  }

  /** Bumped whenever the on-disk index layout changes, so an old index is
    * rebuilt rather than half-read. v4: adaptive coarse-cell count
    * (corpus-size-derived nlist) — indexes built with the fixed 16 must
    * rebuild at corpora where the adaptive rule picks more cells.
    */
  val IndexFormatVersion: Long = 4L

  /** Content signature of the embedding corpus for index-staleness checks:
    * row count, id sum, and a crc32 content sum over the stringified
    * vectors (so a REGENERATED corpus with identical ids but different
    * vectors is still detected). One cheap scan.
    */
  private def corpusSignature(embeddings: DataFrame): DataFrame =
    // coalesce: on an EMPTY corpus the sums are NULL and the staleness
    // check would NPE on getLong — an empty corpus signs as (0, 0, 0)
    embeddings.agg(count(lit(1)).cast("long").as("n"),
      coalesce(sum(col("vec_id")), lit(0L)).cast("long").as("id_sum"),
      coalesce(sum(crc32(concat_ws(",", col("embedding").cast("array<string>"))
        .cast("binary"))), lit(0L)).cast("long").as("emb_crc"))

  /** Run [[ivfPqIndexBuild]] only when the materialized index is absent or
    * was built from a DIFFERENT corpus (count/id-sum/content-crc mismatch —
    * the staleness guard a regenerated test corpus needs). A verified-fresh
    * indexDir is memoized for the JVM's lifetime, so repeated probes in one
    * session skip even the signature scan. Returns whether a build ran.
    *
    * Guard grade: the signature is one full corpus scan, which is
    * harness-appropriate (the test corpus regenerates between rounds) but
    * NOT what a deployment should pay before a probe — production systems
    * version their indexes explicitly (build ids in the catalog) and would
    * call [[ivfPqProbeTopK]]/[[knnJoinIvfProbe]] directly.
    */
  private val verifiedIndexDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The index HEAD (codebooks: coarse centroids + m×nCells PQ rows, a few
    * KiB — the thing a deployed ANN service keeps resident in RAM), cached
    * per indexDir for the JVM's lifetime. Loaded on first probe or during
    * the build/staleness pass, dropped on rebuild. Saves the probe path
    * one read-plus-collect job per query — at probe rates that job IS the
    * latency floor.
    */
  private val headCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[org.apache.spark.sql.Row]]()

  private def indexHead(
      spark: SparkSession, indexDir: String): Array[org.apache.spark.sql.Row] =
    headCache.computeIfAbsent(indexDir,
      d => spark.read.parquet(s"$d/codebooks.parquet").collect())

  /** Open index relations (codes / inverted-list vectors), cached per
    * (session, path): `spark.read.parquet` on a cell-partitioned directory
    * pays a partition-discovery listing + footer read every call, which at
    * probe rates is pure per-query overhead for an immutable on-disk
    * index. The cached DataFrame keeps its file index, so `cell_id`
    * partition pruning on top of it is unchanged. Dropped on rebuild.
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()

  private def indexRelation(spark: SparkSession, path: String): DataFrame =
    relationCache.computeIfAbsent(
      (System.identityHashCode(spark), path),
      k => spark.read.parquet(k._2))

  private def dropCachedIndex(indexDir: String): Unit = {
    headCache.remove(indexDir)
    relationCache.keySet.removeIf(_._2.startsWith(indexDir))
  }

  def ivfPqIndexBuildIfStale(
      embeddings: DataFrame,
      indexDir: String,
      nCells: Int = -1,
      iters: Int = 2,
      m: Int = 4,
      subDim: Int = 16,
      trainMod: Int = 1): Boolean = {
    if (verifiedIndexDirs.contains(indexDir)) return false
    val spark = embeddings.sparkSession
    val sig = corpusSignature(embeddings).collect()(0)
    val fresh =
      try {
        val meta = spark.read.parquet(s"$indexDir/meta.parquet").collect()(0)
        (0 to 2).forall(i => meta.getLong(i) == sig.getLong(i)) &&
          meta.getLong(3) == IndexFormatVersion
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!fresh) {
      // same adaptive coarse-cell rule as knnJoinIvf (nCells < 0):
      // 2^max(4, bitlength(n/4096)) — the FAISS nlist ∝ corpus regime;
      // gate scales land on the historical 16 so the unrolled oracles
      // hold, and the staleness signature already keys on the corpus
      val cells =
        if (nCells > 0) nCells
        else {
          val n = sig.getLong(0)
          val bl =
            64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
          1 << math.min(12, math.max(4, bl))
        }
      ivfPqIndexBuild(embeddings, indexDir, cells, iters, m, subDim, trainMod)
    }
    // the head read and the index-relation opens (partition discovery on
    // the cell-partitioned dirs) ride the build/staleness pass, so the
    // first probe's query path starts with the index fully resident
    indexHead(spark, indexDir)
    indexRelation(spark, s"$indexDir/codes.parquet")
    indexRelation(spark, s"$indexDir/vectors.parquet")
    verifiedIndexDirs.add(indexDir)
    !fresh
  }

  /** PROBE half: answer one query from the MATERIALIZED index — no
    * training, no corpus-wide code computation on the query path. Reads the
    * tiny codebooks (broadcast), assigns the query to its `nProbe` coarse
    * cells, scans ONLY those cells' partitions of the codes table
    * (partition pruning on the `cell_id` directory key), scores candidates
    * by ADC table lookup, and exact-reranks the `shortK` shortlist against
    * the embeddings table. Identical output to [[ivfPqTopK]] at the same
    * parameters (PQ codes are deterministic per vector, so precomputing
    * them at build time changes nothing) — one oracle contract covers
    * both. This is the production query metric the fused key can't show:
    * everything here is probe-proportional, nothing is corpus-proportional
    * except the shortlist's vec_id-keyed rerank join.
    */
  def ivfPqProbeTopK(
      embeddings: DataFrame,
      indexDir: String,
      queryId: Long,
      k: Int,
      nProbe: Int = 4,
      m: Int = 4,
      subDim: Int = 16,
      shortK: Int = 50): DataFrame = {
    val spark = embeddings.sparkSession

    // The index HEAD — coarse centroids + m×nCells codebook rows, a few
    // KiB — is driver-resident metadata, exactly how a deployed ANN
    // service (FAISS et al.) holds its quantizers in RAM. Probe-cell
    // selection and the ADC distance table are then driver arithmetic
    // that REPLICATES the executor contract bit for bit: l2_sq's
    // sequential IEEE double fold, Spark round(_, 9) (BigDecimal.valueOf
    // + HALF_UP), and the double→decimal(38,9) cast — so the result is
    // hash-identical to the DataFrame formulation ([[ivfPqTopK]]) and its
    // oracle. Corpus-sized relations (codes, embeddings) never leave the
    // executors; the only driver data is the head and the one query row.
    // Sizing: the head is nCells×(dim+m) doubles — ~50 MB even at the
    // nCells ≈ 10^5 a 100 TB corpus wants (FAISS keeps the same thing in
    // RAM); if nCells ever outgrows driver memory, [[ivfPqTopK]]'s
    // DataFrame formulation of the same math is the fallback.
    def round9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    def l2(q: Array[Float], from: Int, c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) {
        val d = q(from + i).toDouble - c(i)
        s += d * d
        i += 1
      }
      s
    }
    val head = indexHead(spark, indexDir)
    def cEmb(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](r.fieldIndex("c_emb")).toArray
    val qv: Array[Float] = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray

    // nProbe nearest coarse cells: (d2 asc, cell_id asc), as assignCells
    val probeCells = head.filter(_.getInt(0) == -1)
      .map(r => (round9(l2(qv, 0, cEmb(r))), r.getLong(1)))
      .sortBy(identity).take(nProbe).map(_._2).toSeq

    // ADC distance table: (sub, code) → d2q decimal(38,9), parameter-sized
    val dtab = head.filter(_.getInt(0) != -1).map { r =>
      val sub = r.getInt(0)
      val d2q = round9(l2(qv, sub * subDim, cEmb(r)))
      (sub, r.getLong(1),
        java.math.BigDecimal.valueOf(d2q).setScale(9, java.math.RoundingMode.HALF_UP))
    }

    // ONE executor action per probe, over ONE relation: the inverted
    // lists (vec_id, codes, embedding) pruned to the nProbe cell
    // directories. ADC is a PROJECTION — each sub-quantizer's distances
    // ride as an m×ksub literal-array lookup (the table is parameter-
    // sized, ≤ a few KiB at ANY corpus scale, because ksub/m don't grow
    // with the corpus) summed in exact DECIMAL, same arithmetic as the
    // oracle's join+sum formulation. No join, no shuffle: the plan is
    // scan → project → TakeOrderedAndProject(shortK), and the shortlist
    // row carries its exact vector back with it. The collect is
    // shortK×(8 + dim×4) bytes — low KiB, bounded by parameters.
    val dtabBySub: IndexedSeq[Seq[java.math.BigDecimal]] =
      (0 until m).map { s2 =>
        val bySub = dtab.filter(_._1 == s2)
        val arr = new Array[java.math.BigDecimal](
          bySub.map(_._2).max.toInt + 1)
        bySub.foreach { case (_, code, d) => arr(code.toInt) = d }
        arr.toSeq
      }
    val adc = (0 until m).map { s2 =>
      element_at(typedLit(dtabBySub(s2)),
        col("codes").getItem(s2).cast("int") + 1)
    }.reduce(_ + _)
    val shortRows = indexRelation(spark, s"$indexDir/vectors.parquet")
      .filter(col("cell_id").isin(probeCells: _*) &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"), adc.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(shortK)
      .select(col("vec_id"), col("embedding"))
      .collect()

    // exact rerank of the in-RAM shortlist — driver arithmetic replicating
    // the executor contract bit for bit (float_dot's sequential
    // double-accumulated float products, Math.sqrt, IEEE division, Spark
    // round(_, 6) = BigDecimal HALF_UP), exactly as the probe-cell
    // selection above replicates assignCells. The FAISS shape end to end:
    // ADC in the executors, exact rerank over the shortlist in RAM. The
    // result is a k-row LocalRelation, so downstream actions launch no
    // further scan.
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val qNorm = math.sqrt(dot(qv, qv))
    val top = shortRows
      .map { r =>
        val e = r.getSeq[Float](1).toArray
        (r.getLong(0), round6(dot(e, qv) / (math.sqrt(dot(e, e)) * qNorm)))
      }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(k)
      .map { case (id, sim) => org.apache.spark.sql.Row(id, sim) }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(top: _*), outSchema)
  }

  /** PROBE half of the BATCH k-NN join ([[knnJoinIvf]] is the fused
    * train+join form): top-k cosine neighbors for every vector, answered
    * from the MATERIALIZED index. The query side is one map-only
    * assignment against the broadcast coarse centroids (read from the
    * index head); the neighbor side is the index's inverted lists —
    * full vectors + precomputed norms already PARTITIONED by cell — so
    * the only shuffle is the probe side's hash on `cell_id`, and no
    * k-means training touches the nightly job at all. Per-query top-k on
    * the bounded-heap [[graft.plans.TopKPerKey]] operator, exactly as the
    * fused form. Identical output at identical coarse parameters.
    */
  def knnJoinIvfProbe(
      embeddings: DataFrame,
      indexDir: String,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    // coarse centroids come from the cached index head (a few KiB) — no
    // per-job codebooks read; the DataFrame is rebuilt locally so the
    // broadcast in assignCells plans as usual
    val headRows = indexHead(spark, indexDir)
    val coarse = spark.createDataFrame(
        java.util.Arrays.asList(headRows: _*), headRows(0).schema)
      .filter(col("sub") === -1).drop("sub")
    val probes = assignCells(
        embeddings.repartition(col("vec_id")), coarse, nProbe)
      .withColumn("qnrm", sqrt(expr("float_dot(embedding, embedding)")))
    val inv = indexRelation(spark, s"$indexDir/vectors.parquet")
      .select(col("cell_id"), col("vec_id").as("nbr_id"),
        col("embedding").as("n_emb"), col("nrm"))
    val pairs = probes.join(inv, Seq("cell_id"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(expr("float_dot(embedding, n_emb)") / (col("qnrm") * col("nrm")), 6)
          .as("sim"))
      .withColumn("neg_sim", -col("sim"))
    graft.plans.TopKPerKey.topKPerKey(
        pairs, Seq("vec_id"), Seq("neg_sim", "nbr_id"), k)
      .drop("neg_sim")
  }

  /** [[clusterBalancedSample]] answered from the MATERIALIZED index: the
    * inverted lists already carry every vector's coarse cell, so the
    * curation quota is a column-pruned scan of (cell_id, vec_id) plus the
    * bounded-heap per-cell top-k — no training and no assignment on the
    * query path. The coarse chain behind the index (grouped Lloyd, sub =
    * -1) is bit-identical to the direct path's, so this must reproduce
    * [[clusterBalancedSample]] exactly — the shared DuckDB oracle and a
    * spec equality pin it.
    */
  def clusterBalancedSampleFromIndex(
      spark: SparkSession, indexDir: String, perCell: Int = 10): DataFrame = {
    val lists = indexRelation(spark, s"$indexDir/vectors.parquet")
      .select(col("cell_id"), col("vec_id"))
    graft.plans.TopKPerKey.topKPerKey(
      lists, Seq("cell_id"), Seq("vec_id"), perCell)
  }

  /** Scalar (int8) quantization of the embedding table — the SQ8 index
    * compression (FAISS `ScalarQuantizer`): per DIMENSION, the corpus
    * min/max define a linear [0, 255] grid and every value becomes its
    * grid code, shrinking a float32 column store 4× with no codebook
    * training (the cheap alternative to PQ when 8 bits/dim is affordable).
    * Long-format output (vec_id, pos, code) — the join-friendly,
    * hash-friendly shape; a deployment would pivot codes back to a
    * byte-array column at write time.
    *
    * Shape at scale: the per-dimension range table is ONE tiny aggregate
    * (dims rows) broadcast back; quantization itself is map-only. Codes
    * are integers from pinned-parenthesization IEEE arithmetic over
    * exactly-representable inputs, so the result hashes identically in any
    * engine. A degenerate constant dimension (mx = mn) codes to 0.
    */
  def scalarQuantize8(embeddings: DataFrame): DataFrame = {
    val pts = embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
    val ranges = pts.groupBy(col("pos")).agg(
      min(col("x").cast("double")).as("mn"),
      max(col("x").cast("double")).as("mx"))
    pts.join(broadcast(ranges), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        expr("CASE WHEN mx = mn THEN 0 ELSE least(CAST(floor(" +
          "((CAST(x AS DOUBLE) - mn) * 255.0) / (mx - mn)) AS INT), 255) END")
          .as("code"))
  }

  /** Rademacher (±1) random projection — Johnson-Lindenstrauss dimension
    * reduction with a hash-derived sign matrix (Achlioptas 2001 showed ±1
    * entries satisfy the JL lemma; no Gaussian sampling, no stored
    * parameters). The k×d sign matrix derives from md5("rp-j-i") parity,
    * so any engine reconstructs the identical projection with zero shipped
    * state (the same trick as the Carter-Wegman MinHash family); it is
    * parameter-sized and rides the plan as a literal, like the ADC
    * distance tables. Projection is MAP-ONLY: posexplode of the k sign
    * rows (k rows out per vector — exactly the output size), then one
    * DECIMAL(18,16)-exact signed HOF fold per output coordinate; no
    * shuffle anywhere, so the operator scales as a pure corpus scan.
    * Long-format rounded double image out (driver-compare rule).
    * Downstream use: project 64→16 dims, then index — a 4× cheaper
    * ANN/cluster space at approximately preserved cosine structure.
    */
  def randomProjection(embeddings: DataFrame, d: Int = 64, k: Int = 16)
      : DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Int = {
      val hex = md.digest(s"rp-$j-$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      if (Integer.parseInt(hex, 16) % 2 == 1) 1 else -1
    }
    val signs = (0 until k).map(j => (0 until d).map(i => sign(j, i)))
    embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        posexplode(typedLit(signs)).as(Seq("pos", "sg")))
      .select(col("vec_id"), col("pos"),
        // accumulator kept at DECIMAL(22,16) so addition never hits the
        // precision-38 cap (which would silently drop to scale 15); the
        // in-lambda cast is representation-only for |sum| < 1e6
        expr("round(CAST(aggregate(zip_with(embedding, sg, (x, s) -> " +
          "IF(s = 1, CAST(CAST(x AS DOUBLE) AS DECIMAL(18,16)), " +
          "-CAST(CAST(x AS DOUBLE) AS DECIMAL(18,16)))), " +
          "CAST(0 AS DECIMAL(22,16)), " +
          "(acc, t) -> CAST(acc + t AS DECIMAL(22,16))) AS DOUBLE), 6)")
          .as("v"))
  }

  /** Hard-negative mining (the contrastive-training data step): the top-k
    * most similar vectors to the query whose `label` DIFFERS from the
    * query's — high-similarity, wrong-class examples. Identical plan shape
    * to [[bruteForceTopK]] (broadcast one-row query side, map-only scoring)
    * plus the label predicate; at scale the same restriction composes with
    * any of the ANN indexes (LSH/IVF/PQ) by filtering their candidate sets.
    */
  def hardNegativesTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("label").as("q_label"),
        sqrt(normSqDecimal(col("embedding")).cast("double")).as("q_norm"))
    embeddings.filter(col("vec_id") =!= queryId)
      .repartition(col("vec_id"))
      .crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("vec_id"), col("label"),
        round(dotDecimal(col("embedding"), col("q_emb")).cast("double") /
          (sqrt(normSqDecimal(col("embedding")).cast("double")) * col("q_norm")),
          6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-class mean embedding (nearest-centroid classifier prototypes /
    * class-balance diagnostics): one groupBy on the label, per-dimension
    * DECIMAL sums divided once in double — the same engine-exact mean
    * contract as the k-means centroid update, so an oracle can mirror it.
    * LONG format on purpose — one row per (label, dimension) with the mean
    * `v` and the class size — both because it is the hash-friendly shape
    * (array columns defeat row-sorting comparators) and because it is the
    * relational shape downstream ops join on; collect_list(struct(pos, v))
    * rebuilds the array form when a caller wants it.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .repartition(col("vec_id"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(col("x").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(18, 16))).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        round(col("s").cast("double") / col("n").cast("double"), 9).as("v"),
        col("n").as("n_vectors"))

  /** Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    * Büttcher, SIGIR'09) — the fusion every RAG stack runs: the lexical
    * ranking (BM25) and the dense ranking (cosine) each contribute
    * `1/(kBase + rank)`, so a document strong in EITHER modality
    * surfaces, with kBase=60 damping rank-1 dominance as published. Kept
    * integer fixed point (`1000000 div (kBase + rank)`); both input ranks
    * are deterministic (score then id). The two pools are TakeOrdered
    * top-`poolK` — KiB-sized whatever the corpus — so the fusion itself
    * is a full-outer join of two tiny relations; at 100 TB the cost is
    * the two retrieval scans, already index-served by the bm25_probe /
    * ANN-probe variants this composes with.
    */
  def hybridRrfTopK(
      docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
      queryId: Long = 0L, poolK: Int = 50, kBase: Int = 60, k: Int = 10)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val txt = Curation.bm25TopK(docs, terms, poolK)
      .withColumn("r_text", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("r_text"))
    val vec = bruteForceTopK(embeddings, queryId, poolK)
      .withColumn("r_vec", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("r_vec"))
    txt.join(vec, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("r_text"), lit(0)).cast("int").as("bm25_rank"),
        coalesce(col("r_vec"), lit(0)).cast("int").as("cosine_rank"),
        (coalesce(expr(s"1000000 div ($kBase + r_text)"), lit(0)) +
          coalesce(expr(s"1000000 div ($kBase + r_vec)"), lit(0)))
          .cast("long").as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col("id"))
      .limit(k)
  }

  /** ColBERT-style MaxSim late-interaction scoring (Khattab & Zaharia,
    * SIGIR'20): the query is a BAG of vectors, each candidate group (here
    * a label; in retrieval, a document's token vectors) scores
    * `Σ_q max_v dot(q, v)` — every query vector finds its best match in
    * the group independently, which is what makes multi-vector retrieval
    * beat single-vector pooling. Dots are integer-quantized (the
    * [[embeddingOutliers]] trick) so scores hash across engines. The
    * query bag broadcasts (bounded slice — a real deployment passes the
    * query's token vectors); the per-(group, q) max and the per-group sum
    * are ordinary aggregates over the corpus×|Q| dot stream.
    */
  def maxSimLabelScores(
      embeddings: DataFrame, queryLabel: Int = 0,
      quantScale: Long = 1000L): DataFrame = {
    val q = embeddings
      .filter(col("label") === queryLabel && col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    embeddings.filter(col("label") =!= queryLabel)
      .crossJoin(broadcast(q))
      .select(col("label"), col("q_id"), expr(
        s"aggregate(zip_with(embedding, q_emb, (a, b) -> " +
          s"CAST(floor(CAST(a AS DOUBLE) * $quantScale) AS BIGINT) * " +
          s"CAST(floor(CAST(b AS DOUBLE) * $quantScale) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("dot"))
      .groupBy(col("label"), col("q_id")).agg(max(col("dot")).as("mx"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_query_vecs"),
        sum(col("mx")).as("maxsim_score"))
  }

  /** Label-centroid cosine similarity matrix — the class-confusability map
    * of an embedding space (two labels whose centroids sit at cos > 0.9
    * are candidates for merging, relabeling, or stratified eval). Kept
    * deterministic the same way [[embeddingOutliers]] is: dimensions
    * quantize to integers, per-(label, dim) sums aggregate exactly, and
    * the three dot products per pair (S_a·S_b, S_a·S_a, S_b·S_b) are
    * DECIMAL(38,0)-exact — cos(centroid_a, centroid_b) equals
    * cos(S_a, S_b) because the 1/n scalars cancel. The one float emission
    * is the final `dot / (sqrt·sqrt)` image, a fixed sequence of
    * correctly-rounded IEEE ops over exact integers — identical in every
    * engine. Shape: one (label, dim) aggregate (labels×dims rows, tiny),
    * one dim-keyed pair join over that relation, |labels|² output.
    */
  def labelCentroidSimilarity(
      embeddings: DataFrame, quantScale: Long = 10000000L): DataFrame = {
    val sums = embeddings
      .repartition(col("vec_id"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $quantScale) AS BIGINT)").as("xi"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
    val selfDot = sums.groupBy(col("label"))
      .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"))
        .as("dd"), max(col("n")).as("n"))
    val a = sums.select(col("label").as("label_a"), col("pos"), col("s").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("pos"), col("s").as("sb"))
    a.join(b, Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(expr("CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))"))
        .as("dab"))
      .join(broadcast(selfDot.select(col("label").as("label_a"),
        col("dd").as("daa"), col("n").as("n_a"))), Seq("label_a"))
      .join(broadcast(selfDot.select(col("label").as("label_b"),
        col("dd").as("dbb"), col("n").as("n_b"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        expr("CAST(dab AS DOUBLE) / " +
          "(sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE)))").as("cos"))
  }

  /** Embedding-space outlier detection: the k vectors FARTHEST from their
    * own label's centroid, per label — the mislabeled-example / encoder-
    * glitch screen a curation pipeline runs before trusting class labels
    * (the distance-to-centroid criterion behind cleanlab-style label QA).
    * Kept hash-exact by quantizing each dimension to `1/quantScale` steps
    * and comparing n²·distance² — for n vectors in a label with
    * per-dimension sums S_d, the per-vector score is
    * Σ_d (n·x_d − S_d)², pure integer arithmetic (DECIMAL(38,0) cross
    * products, like [[graft.analytics.DataQuality.vocabDrift]]) with no
    * division anywhere; n is constant within a label, so the per-label
    * ranking is the true distance ranking.
    *
    * Scale shape: one (label, dim)-keyed aggregate builds the centroid
    * sums (labels×dims rows — broadcast side of the join back), one
    * (vec_id)-keyed aggregate folds dimensions, and the per-label top-k
    * runs on the custom bounded-heap [[graft.plans.TopKPerKey]] operator
    * (O(k) state per label, no full sort, no row_number window over the
    * whole corpus).
    */
  def embeddingOutliers(embeddings: DataFrame, k: Int = 5,
      quantScale: Long = 10000000L): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val q = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast("double") * quantScale).cast("long").as("xi"))
    val cent = q.groupBy(col("label"), col("pos"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
    val dev = (col("n") * col("xi") - col("s")).cast(d19)
    val d2 = q.join(cent, Seq("label", "pos"))
      .select(col("vec_id"), col("label"), (dev * dev).as("c"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("c")).as("d2n2dec"))
      .select(col("vec_id"), col("label"), col("d2n2dec"),
        (-col("d2n2dec")).as("neg"))
    graft.plans.TopKPerKey.topKPerKey(d2, Seq("label"), Seq("neg", "vec_id"), k)
      .select(col("label"), col("vec_id"),
        col("d2n2dec").cast("double").as("d2n2"))
  }

  /** Per-label, per-dimension centroid DRIFT between two versions of an
    * embedding corpus — the embedding-space companion of the token-space
    * `vocab_drift` and the fingerprint `snapshotDiff`: after a crawl
    * refresh or encoder change, which labels moved and along which
    * dimensions? Long format (label, pos, n_old, n_new, v_old, v_new,
    * drift) keeps the output array-free (the driver-compare house rule)
    * and is operationally richer than a collapsed L2: the per-dimension
    * signal locates WHAT changed. Each side is one [[labelCentroids]]
    * pass (DECIMAL-exact sums, DOUBLE image), joined full-outer so labels
    * present in only one version surface with the other side null.
    * Scale shape: two aggregation passes + a label×dim-sized join — no
    * vector ever crosses the join.
    */
  def labelCentroidDrift(oldEmb: DataFrame, newEmb: DataFrame): DataFrame = {
    def cents(df: DataFrame, v: String, n: String) =
      labelCentroids(df).select(col("label"), col("pos"),
        col("v").as(v), col("n_vectors").as(n))
    cents(oldEmb, "v_old", "n_old")
      .join(cents(newEmb, "v_new", "n_new"), Seq("label", "pos"), "full_outer")
      .select(col("label"), col("pos"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("v_old"), col("v_new"),
        round(col("v_old") - col("v_new"), 9).as("drift"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embeddings
    * with the SAME deterministic k-means quantizer the IVF index uses, form
    * candidate pairs only WITHIN each cluster, drop every non-representative
    * member of a within-cluster near-duplicate component (cosine ≥
    * `minSim`; representative = min vec_id). K-means clustering is the
    * candidate cut that distinguishes SemDeDup from sign-LSH near-dup
    * detection ([[cosineNearDupPairs]]): semantically close vectors land in
    * the same cell even when they straddle hyperplane signs.
    *
    * Scale shape: quantizer trains on a deterministic subsample; assignment
    * is map-only against broadcast centroids; the pair join shuffles on
    * cell_id (bounded per-cell fan-out — at corpus scale raise `nCells`
    * ∝ corpus size so cells stay ~constant-sized, the paper's regime);
    * per-pair scoring is the codegen'd `float_dot` primitive with per-row
    * norms computed once. Returns the KEPT rows (vec_id, label).
    *
    * SCALE CEILING (deliberate, like [[cosineNearDupPairs]]'s 16-bit cap):
    * the adaptive nlist is capped at 2^12 = 4096 cells, because a flat
    * quantizer's assignment pass costs nCells distance evaluations PER
    * VECTOR — past 4096 the map-only assignment itself becomes the
    * dominant term and FAISS practice switches coarse-quantizer shape
    * rather than growing nlist unboundedly. The cap binds at n ≈ 17M
    * vectors; beyond it per-cell population (hence the within-cell pair
    * volume per vector) resumes growing ∝ n. Past that regime the
    * deployment answer is NOT this fused build: either assign against the
    * MATERIALIZED cell-partitioned index ([[semDedupKeepFromIndex]] — the
    * nightly-run path, where the build is amortized) with a two-level
    * (hierarchical) coarse quantizer, or accept ~n/4096-sized cells and
    * spend the extra dots on more executors — the within-cell scoring is
    * embarrassingly parallel and shuffle-free (pairs are generated and
    * reduced inside the cell_id join stage, never shuffled). Measured
    * r18: per-vector candidate work is flat 200k → 2M (see STATUS sweep
    * rows); at 20M on local[32] the pair scoring is CPU-bound wall-hours
    * on one JVM while remaining one-shuffle linear-per-executor-core on a
    * cluster.
    */
  def semDedupKeep(
      embeddings: DataFrame,
      nCells: Int = -1,
      iters: Int = 2,
      trainMod: Int = 4,
      minSim: Double = 0.30): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    // nCells < 0 (default) = the adaptive FAISS-nlist rule shared with
    // knnJoinIvf / the index build: 2^max(4, bitlength(n/4096)) — the
    // within-cell pair join is quadratic PER CELL, so cells must grow
    // ∝ corpus for the candidate volume to stay linear. Measured r17 at
    // sf10 (200k vectors): fixed 16 cells ran 266 s cold / 5534 s taskCpu
    // (12.5k-vector mean cells → >= 1.25e9 candidate PAIR ROWS each
    // carrying two 64-float embeddings through the cell_id join — the
    // cost is row materialization, not just dots); the oracle gate scales
    // all land on the historical 16, so the unrolled oracles hold.
    val cells =
      if (nCells > 0) nCells
      else {
        val n = countInput(embeddings)
        val bl =
          64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
        1 << math.min(12, math.max(4, bl))
      }
    val centroids =
      Materialize.local(kMeansCentroids(spread, cells, iters, trainMod))
    // assignment feeds both sides of the pair join — cut the Lloyd lineage
    // once and compute each row's norm a single time
    val assigned = Materialize.local(assignCells(spread, centroids, 1)
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)"))))
    val a = assigned.select(col("cell_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val pairs = a.join(b, Seq("cell_id")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("float_dot(emb_a, emb_b)") / (col("nrm_a") * col("nrm_b")), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
    val drop = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** [[semDedupKeep]] with a TWO-LEVEL (hierarchical) coarse quantizer —
    * the past-the-cap branch of the scale ceiling documented there. The
    * top level is the same adaptive-nlist k-means; any cell whose
    * population exceeds `maxCellPop` then trains its OWN `subCells`-cell
    * sub-quantizer (grouped Lloyd over the cell's training vectors, seeded
    * by the cell's first `subCells` train vec_ids) and its members are
    * re-assigned to (cell, sub-cell) leaves. The near-dup pair join runs
    * on the leaf key, so per-leaf population — hence candidate volume per
    * vector — stays bounded at ANY corpus size: where the flat build's
    * 4096-cell cap lets cells grow ∝ n past ~17M vectors, the hierarchy
    * splits exactly the cells that outgrew the regime (FAISS's
    * IVF-in-IVF / residual-coarse practice, same shape as a two-level
    * inverted file).
    *
    * Cost model vs the flat build: one extra bounded aggregate (cell
    * populations), one grouped Lloyd over ONLY the oversized cells'
    * training subsample, and one grouped re-assignment of only those
    * cells' members — all broadcast/map-shaped except the per-group
    * centroid collect ([[assignCells]]' one small shuffle). Below the
    * split threshold nothing splits and the result is IDENTICAL to
    * [[semDedupKeep]] at the same top-level parameters (spec-checked).
    *
    * SemDeDup semantics note: splitting a cell REFINES the candidate cut —
    * near-dup pairs straddling a sub-cell boundary are no longer compared,
    * exactly as raising nlist does in the paper's regime (and as the flat
    * adaptive rule already does between corpus sizes). The gate-scale key
    * forces tiny dials (topCells=4, maxCellPop=64, subCells=4) so the
    * grouped Lloyd, the split decision, the (-1)-sub leaf for unsplit
    * cells, and the leaf-keyed join are all hash-checked against the
    * DuckDB oracle at every fixture scale.
    */
  def semDedupKeepHier(
      embeddings: DataFrame,
      topCells: Int = -1,
      // split exactly when a cell outgrows the ~4096-member regime the
      // adaptive nlist maintains below the cap — at 20M vectors (top pop
      // ~4883) the hierarchy engages, which is the point of having it
      maxCellPop: Long = 4096L,
      subCells: Int = 16,
      iters: Int = 2,
      trainMod: Int = 4,
      minSim: Double = 0.30): DataFrame = {
    val pairs = semDedupHierLeafPairs(embeddings, topCells, maxCellPop,
      subCells, iters, trainMod, minSim)
    val drop = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** [[semDedupKeepHier]]'s candidate stage — build both quantizer levels,
    * assign leaves, and emit the thresholded within-leaf near-dup pairs
    * (everything except the connected-components tail). Package-visible so
    * scale probes can measure the hierarchy's cost separately from the
    * CC tail, whose input size is a (corpus, minSim) property.
    */
  private[graft] def semDedupHierLeafPairs(
      embeddings: DataFrame,
      topCells: Int,
      maxCellPop: Long,
      subCells: Int,
      iters: Int,
      trainMod: Int,
      minSim: Double): DataFrame = {
    val leaf = semDedupHierLeaves(embeddings, topCells, maxCellPop,
      subCells, iters, trainMod)
    val a = leaf.select(col("cell_id"), col("sub_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = leaf.select(col("cell_id"), col("sub_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cell_id", "sub_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("float_dot(emb_a, emb_b)") / (col("nrm_a") * col("nrm_b")), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** The hierarchical quantizer's MATERIALIZED leaf relation
    * `(vec_id, cell_id, sub_id, embedding, nrm)` — split-cell members
    * carry their sub-quantizer cell, unsplit (and untrained-parent)
    * members sub_id = -1. Split out of [[semDedupHierLeafPairs]] so specs
    * can assert the hierarchy is ACTIVE structurally (distinct leaves >
    * distinct top cells) instead of through a fixture-distribution
    * property of the keep-set.
    */
  private[graft] def semDedupHierLeaves(
      embeddings: DataFrame,
      topCells: Int,
      maxCellPop: Long,
      subCells: Int,
      iters: Int,
      trainMod: Int): DataFrame = {
    val spread = embeddings.repartition(col("vec_id"))
    val cells =
      if (topCells > 0) topCells
      else {
        val n = countInput(embeddings)
        val bl =
          64 - java.lang.Long.numberOfLeadingZeros(math.max(n / 4096, 1L))
        1 << math.min(12, math.max(4, bl))
      }
    val top = Materialize.local(kMeansCentroids(spread, cells, iters, trainMod))
    val a1 = Materialize.local(assignCells(spread, top, 1))
    // oversized parents: a <= nCells-row aggregate, broadcast back
    val big = a1.groupBy(col("cell_id")).agg(count(lit(1)).as("pop"))
      .filter(col("pop") > maxCellPop)
      .select(col("cell_id").as("g"))
    val bigMembers = a1.join(broadcast(big), a1("cell_id") === big("g"))
      .select(col("g"), col("vec_id"), col("embedding"))
    val subTrain = bigMembers.filter(col("vec_id") % trainMod === 0)
    // per-parent seed: the cell's first subCells train vectors by vec_id
    // (the global `vec_id < nCells*trainMod` cut can't seed disjoint
    // groups); row_number over a per-group total order is deterministic
    val seeds = subTrain
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("vec_id"))))
      .filter(col("rn") <= subCells)
      .select(col("g"), col("vec_id").as("cell_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_emb"))
    val subC = Materialize.local(lloydIterate(subTrain, seeds, iters, Seq("g")))
    // members of split cells re-assigned to their parent's sub-quantizer;
    // a parent with no training vectors has no sub-centroids (inner join
    // drops its members) -> those keep sub_id = -1 like unsplit cells
    val sub = assignCells(bigMembers, subC, 1, Seq("g"))
      .select(col("vec_id"), col("cell_id").as("sub_id"))
    Materialize.local(a1.join(sub, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("sub_id"), lit(-1L)).as("sub_id"), col("embedding"))
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)"))))
  }

  /** [[semDedupKeep]] answered from the MATERIALIZED index: the
    * `(vec_id, cell_id, embedding, nrm)` relation SemDeDup's pair join
    * needs is exactly the index's inverted lists, so the nightly dedup run
    * skips quantizer training and corpus assignment entirely — the pair
    * join reads cell-partitioned vectors as-is. Identical output at
    * identical coarse parameters (the index build's: adaptive nlist,
    * iters=2, trainMod=4); same oracle as the fused key.
    */
  def semDedupKeepFromIndex(
      embeddings: DataFrame,
      indexDir: String,
      minSim: Double = 0.30): DataFrame = {
    // the cell-partitioned inverted lists land as one small file per cell
    // directory; coalesce the scan to ~one task per cell so this key does
    // not schedule a hundred-odd tiny tasks for a KiB-per-cell read (no
    // shuffle — coalesce merges scan splits). At corpus scale each cell is
    // file-bin-packed into real-sized splits and the cap is a no-op.
    val assigned = indexRelation(
        embeddings.sparkSession, s"$indexDir/vectors.parquet")
      .coalesce(embeddings.sparkSession.sparkContext.defaultParallelism)
    val a = assigned.select(col("cell_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cell_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val pairs = a.join(b, Seq("cell_id")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("float_dot(emb_a, emb_b)") / (col("nrm_a") * col("nrm_b")), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
    val drop = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** All near-duplicate pairs by embedding cosine within sign-LSH buckets —
    * the embedding-space analogue of MinHash near-dup detection. Pairs are
    * generated per bucket (the LSH candidate cut), then thresholded on the
    * rounded cosine.
    */
  def cosineNearDupPairs(embeddings: DataFrame, minSim: Double, nBits: Int = -1): DataFrame = {
    // nBits < 0 (default): adaptive cut width min(16, max(8,
    // bitlength(n/4096))) — the bucketed pair join is quadratic PER
    // BUCKET, so buckets must grow ∝ corpus for candidate volume to stay
    // linear (~4096-vector buckets → ~2048 dots/vector), the same regime
    // as semDedupKeep's adaptive cells and bitextMarginPairs' cut. All
    // oracle gate scales and sf1 land on the historical 8 bits; the
    // oracle derives the SAME width from its own count(*) via
    // length(bin(x)), so the two sides stay in lockstep at any scale.
    // The 16-bit cap is deliberate: beyond 65k sign buckets recall decays
    // faster than the cut helps — past that corpus size the IVF path
    // (adaptive nlist, trained cells) is the deployment answer.
    val bits =
      if (nBits > 0) nBits
      else {
        val n = embeddings.count()
        math.min(16, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(n / 4096, 1L)))).toInt
      }
    // per-vector norms are computed once on the bucketed relation (N rows)
    // instead of twice per candidate pair (O(N²/buckets) rows); the
    // per-pair kernel is the codegen'd float_dot (the semDedupKeep /
    // knnJoinIvf primitive — measured r17 at sf10: the interpreted
    // DECIMAL HOF dot was still running the 6.1e9-candidate join after
    // 12 min, float_dot finishes it in under a minute), rounded to the
    // same 6 decimals the DECIMAL oracle replays.
    //
    // ERROR BUDGET vs the DECIMAL(18,16) oracle sum: float_dot folds the
    // EXACT per-term float×float products (each product of two float32s is
    // exact in double) sequentially in IEEE double, so the two sides
    // differ only by double-addition rounding — |err| <= (dim-1)·ulp ≈
    // 64·2⁻⁵²·|dot| ~ 1e-14. Agreement after round(.,6) and at the
    // sim >= 0.30 cut is therefore PROBABILISTIC, not structural: it fails
    // only when a true cosine sits within ~1e-14 of a x.xxxxx5 rounding
    // boundary or of the threshold — odds ~1e-8 per pair, and the sim
    // values on this corpus are hash-checked tri-scale every round. If a
    // boundary hit ever lands, the structural fix is the bitextMarginPairs
    // pattern: compare in fixed point with a 1-ulp-tolerant band (sim_fp).
    val bucketed = withSignBucket(embeddings, bits)
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("float_dot(emb_a, emb_b)") / (col("nrm_a") * col("nrm_b")), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Dominant principal direction of the corpus embedding Gram matrix by
    * fixed-rounds power iteration — the common-direction estimate that
    * post-processing removes in "All-but-the-top" (Mu & Viswanath, ICLR
    * 2018) and that PCA-whitening / mean-direction diagnostics need.
    *
    * Integer-exact end-to-end so a SQL oracle replays it bit-for-bit:
    * coordinates quantize once to ppm fixed point via `floor(decimal·10^6)`
    * (floor on an EXACT decimal — no round-half boundary, identical in any
    * engine), the d×d Gram accumulates exact BIGINT products, and each
    * iteration is an integer matrix–vector product renormalized by
    * `(u·10^6) div max|u|` (truncation toward zero in both engines). The
    * all-ones start makes the converged sign deterministic.
    *
    * Scale shape: the Gram sweep ([[embeddingGram]]) is the ONLY
    * data-sized work. The d²-entry Gram is a parameter-sized artifact (like
    * a PQ codebook); the `rounds` iterations run on it driver-side in exact
    * BigInt. Returns (dim, v_ppm) — the unit-∞-normalized component in
    * ppm.
    */
  def topComponentPower(embeddings: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    val gram = embeddingGram(embeddings)
    // d² entries — parameter-sized (d=64 → 4096 entries), the documented
    // bounded-collect class (codebooks, shortlists). An entry reached only
    // through null slots sums to null and adds nothing, as in the oracle
    val gTri = gram.collect().map(r => (r.getInt(0), r.getInt(1)) ->
      Option(r.getDecimal(2)).fold(BigInt(0))(d => BigInt(d.toBigInteger)))
    val g = (gTri ++ gTri.collect { case ((i, j), v) if i != j => (j, i) -> v }).toMap
    val dims = g.keys.map(_._1).toSeq.distinct.sorted
    val scale = BigInt(1000000)
    var v: Map[Int, BigInt] = dims.map(_ -> scale).toMap
    import spark.implicits._
    // no embeddings → empty Gram → empty (dim, v_ppm); an all-zero Gram
    // would otherwise divide by mx = 0 below
    if (dims.isEmpty) return Seq.empty[(Int, Long)].toDF("dim", "v_ppm")
    var done = false
    for (_ <- 1 to rounds if !done) {
      val u = dims.map(i =>
        i -> dims.map(j => g.getOrElse((i, j), BigInt(0)) * v(j)).sum).toMap
      val mx = u.values.map(_.abs).max
      if (mx == 0) done = true // degenerate (all-zero) Gram: v is fixed
      else v = u.map { case (i, x) => i -> (x * scale / mx) } // BigInt / truncates toward zero, like SQL div
    }
    dims.map(i => (i, v(i).toLong)).toDF("dim", "v_ppm")
  }

  /** The upper triangle (i ≤ j, diagonal included) of the exact Gram
    * matrix Σ_v xf_v·xf_vᵀ of the ppm-quantized `embedding` vectors, as
    * (i, j, g DECIMAL(38,0)) — the same numbers as the posexplode self-join
    * `a.join(b, vec_id).filter(a.i <= b.i)` summing DECIMAL(38,0) casts of
    * the BIGINT products, with none of its d(d+1)/2 rows per vector: each
    * partition folds its vectors into one triangle ([[gramPartials]]), and
    * the groupBy(i, j) sums at most d(d+1)/2 partials per partition. Like
    * the join, a null vector adds nothing, a null slot adds nothing to its
    * entries (an entry reached only through null slots sums to null), and
    * ragged vectors add to the entries they reach.
    */
  def embeddingGram(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("p", DecimalType(38, 0)))))
    embeddings.repartition(col("vec_id"))
      .select(expr("transform(embedding, x -> " +
        "CAST(floor(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,16)) * 1000000) AS BIGINT))")
        .as("xf"))
      .mapPartitions(gramPartials)(enc)
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("g"))
  }

  /** One partition's Gram partials: a row (i, j, Σ xf_i·xf_j) for every
    * entry i ≤ j that one of `rows`' `xf: array<bigint>` vectors reaches,
    * entry (i, j) kept at j(j+1)/2 + i so vectors of any length share one
    * packed triangle. Each product is an exact BIGINT (`multiplyExact`, as
    * ANSI Spark multiplies); each entry sums in a Long and carries into a
    * BigInteger just before the Long would overflow, so the partial is
    * exact at any row count. An entry reached only through null slots is a
    * null partial.
    */
  private[graft] def gramPartials(rows: Iterator[Row]): Iterator[Row] = {
    import java.math.{BigDecimal => JBigDecimal, BigInteger}
    var acc = new Array[Long](0)
    var carry = new Array[BigInteger](0)
    var valued = new Array[Boolean](0) // some non-null product landed here
    var reached = new Array[Boolean](0)
    var dims = 0
    var xs = new Array[Long](0)
    var present = new Array[Boolean](0)
    rows.foreach { r =>
      val v = if (r.isNullAt(0)) Seq.empty else r.getSeq[Any](0)
      val n = v.length
      if (n > dims) {
        val size = n * (n + 1) / 2
        acc = java.util.Arrays.copyOf(acc, size)
        carry = java.util.Arrays.copyOf(carry, size)
        valued = java.util.Arrays.copyOf(valued, size)
        reached = java.util.Arrays.copyOf(reached, size)
        xs = new Array[Long](n)
        present = new Array[Boolean](n)
        dims = n
      }
      var i = 0
      v.foreach { x =>
        present(i) = x != null
        if (present(i)) xs(i) = x.asInstanceOf[Long]
        i += 1
      }
      var j = 0
      while (j < n) {
        val base = j * (j + 1) / 2
        i = 0
        while (i <= j) {
          val k = base + i
          reached(k) = true
          if (present(i) && present(j)) {
            val p = Math.multiplyExact(xs(i), xs(j))
            val a = acc(k)
            val s = a + p
            if (((a ^ s) & (p ^ s)) < 0) { // a + p overflows a Long
              val c = carry(k)
              carry(k) = if (c == null) BigInteger.valueOf(a) else c.add(BigInteger.valueOf(a))
              acc(k) = p
            } else acc(k) = s
            valued(k) = true
          }
          i += 1
        }
        j += 1
      }
    }
    Iterator.range(0, dims).flatMap(j => Iterator.range(0, j + 1).collect {
      case i if reached(j * (j + 1) / 2 + i) =>
        val k = j * (j + 1) / 2 + i
        val g =
          if (!valued(k)) null
          else if (carry(k) == null) JBigDecimal.valueOf(acc(k))
          else new JBigDecimal(carry(k).add(BigInteger.valueOf(acc(k))))
        Row(i, j, g)
    })
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based Parallel
    * Corpus Mining with Multilingual Sentence Embeddings", ACL 2019 — the
    * LASER/CCMatrix pipeline): candidate cross-lingual pairs between the
    * `langA` and `langB` sides of the corpus, scored by the RATIO margin —
    * cosine(x, y) divided by the mean of each side's top-`k` candidate
    * neighbor cosines — and kept only when (x, y) is each other's best
    * margin match (the mutual-best filter that kills hub sentences, the
    * published failure mode of raw cosine thresholds).
    *
    * Scale shape: candidates come from a sign-LSH bucket EQUI-join between
    * the two language sides (the [[cosineNearDupPairs]] cut — no
    * cartesian; at 100 TB swap in the IVF candidate relation of
    * [[knnJoinIvf]] unchanged). The margin arithmetic is integer fixed
    * point over `sim_fp = round(cosine, 6)·10^6` — `margin_bp =
    * (2·sim_fp·cnt_a·cnt_b·10^4) div (sum_a·cnt_b + sum_b·cnt_a)` — so the
    * ranking and the mutual-best tie-breaks are bit-stable cross-engine.
    * Top-k neighbor sets are drawn from the same candidate cut and INCLUDE
    * the pair itself when ranked (the published formulation). Two window
    * passes over the candidate relation (shuffles on id_a, id_b) plus two
    * |sides|-row aggregate joins; candidates-per-bucket is the only
    * quadratic term, bounded by the LSH cut like every near-dup key.
    *
    * The cut WIDTH is the documented scale dial, and `nBits < 0` (the
    * default) turns it automatically: nBits = bitlength(n/8) clamped to
    * [8, 16], where n is the two-language corpus count — at the oracle
    * gate scales this lands on the historical 8, and at 100× it widens
    * so per-bucket density (and the sign-cluster SKEW a replicated
    * corpus concentrates into hot buckets) stays bounded. The bit length
    * comes from `length(bin(x))` — integer-exact and identical in Spark
    * and DuckDB, so the oracle derives the SAME width from its own
    * count(*); the one driver-side scalar is a count, like the PageRank
    * node count.
    */
  def bitextMarginPairs(
      docs: DataFrame,
      embeddings: DataFrame,
      langA: String = "en",
      langB: String = "es",
      k: Int = 4,
      nBits: Int = -1,
      minMarginBp: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lang = docs.select(col("doc_id").as("vec_id"), col("lang"))
    val e = embeddings.join(lang, Seq("vec_id"))
      .filter(col("lang").isin(langA, langB))
    val bits =
      if (nBits > 0) nBits
      else {
        val n = e.count()
        math.min(16, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(n / 8, 1L)))).toInt
      }
    val bucketed = withSignBucket(e, bits)
      .withColumn("nrm", sqrt(normSqDecimal(col("embedding")).cast("double")))
    val a = bucketed.filter(col("lang") === langA)
      .select(col("bucket"), col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val b = bucketed.filter(col("lang") === langB)
      .select(col("bucket"), col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    val cand = graft.engine.Materialize.local(a.join(b, Seq("bucket"))
      .select(col("id_a"), col("id_b"),
        round(round(dotDecimal(col("ea"), col("eb")).cast("double") /
          (col("na") * col("nb")), 6) * lit(1000000.0), 0)
          .cast("long").as("sim_fp"))
      .filter(col("sim_fp") > 0))
    val wA = Window.partitionBy(col("id_a"))
      .orderBy(col("sim_fp").desc, col("id_b"))
    val wB = Window.partitionBy(col("id_b"))
      .orderBy(col("sim_fp").desc, col("id_a"))
    val sumsA = cand.withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= k).groupBy(col("id_a"))
      .agg(sum(col("sim_fp")).as("sum_a"), count(lit(1)).as("cnt_a"))
    val sumsB = cand.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= k).groupBy(col("id_b"))
      .agg(sum(col("sim_fp")).as("sum_b"), count(lit(1)).as("cnt_b"))
    val scored = cand.join(sumsA, Seq("id_a")).join(sumsB, Seq("id_b"))
      .withColumn("margin_bp", expr(
        "(2 * sim_fp * cnt_a * cnt_b * 10000) div (sum_a * cnt_b + sum_b * cnt_a)"))
    val fwd = scored.withColumn("rf", row_number().over(
        Window.partitionBy(col("id_a"))
          .orderBy(col("margin_bp").desc, col("id_b"))))
      .filter(col("rf") === 1)
    val bwd = scored.withColumn("rb", row_number().over(
        Window.partitionBy(col("id_b"))
          .orderBy(col("margin_bp").desc, col("id_a"))))
      .filter(col("rb") === 1)
      .select(col("id_a").as("b_a"), col("id_b").as("b_b"))
    fwd.join(bwd,
        col("id_a") === col("b_a") && col("id_b") === col("b_b"))
      .filter(col("margin_bp") >= minMarginBp)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("sim_fp"), col("margin_bp"))
  }

  /** Greedy k-center / farthest-point coreset selection (Gonzalez 1985,
    * the classic 2-approximation; the "diverse seed set" selector behind
    * coreset sampling and dedup-canopy seeding — corpus-global, unlike the
    * query-relative [[mmrDiverseTopK]]). Seed = min vec_id; each of the
    * k−1 following steps picks the vector FARTHEST (max of its min
    * quantized squared L2 distance) from everything selected so far, ties
    * to the smallest vec_id. Dimensions quantize to round(x·10⁴) BIGINTs
    * so distances are exact integers in both engines. Per step: ONE
    * linear aggregate over the corpus against the ≤k-row broadcast
    * selected set (Gonzalez is O(k·N) by construction) plus one
    * parameter-sized head fetch — the same bounded-driver-loop shape as
    * the BPE argmax. Returns (step, vec_id, d2_min): the selection order
    * and each pick's distance to the prior set (the k-center radius
    * sequence, non-increasing — `AnalyticsSpec` pins it).
    */
  /** Matryoshka / truncated-dimension retrieval eval (Kusupati et al.,
    * NeurIPS 2022): for a fixed query set, recall@k of the top-k under
    * PREFIX-dimension cosine (the cheap index every MRL deployment
    * actually serves) against the full-dimension top-k truth — the
    * measurement that decides how many dims the ANN index can drop. Both
    * rankings run as one broadcast-queries corpus scan each, cut by the
    * bounded-heap TopKPerKey (query-keyed, never a corpus-sized window);
    * the overlap join is k·|queries|-sized. Exact integer recall bp.
    */
  def matryoshkaRecallEval(
      emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 50L, 100L, 150L, 200L),
      k: Int = 10, prefixDims: Int = 16): DataFrame = {
    val queries = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // spread the corpus before the broadcast crossJoin: the fixture scan is
    // one row group = ONE partition, and TopKPerKey's partial pass runs on
    // the child's partitioning — unspread, both rankings were single-task
    // scans of the whole pair relation (heap results are a total-order cut,
    // partitioning-independent)
    val pairs = emb.repartition(col("vec_id")).crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
    def top(sim: org.apache.spark.sql.Column): DataFrame =
      graft.plans.TopKPerKey.topKPerKey(
        pairs.select(col("q_id"), col("vec_id"), (-sim).as("neg_sim")),
        Seq("q_id"), Seq("neg_sim", "vec_id"), k)
    val full = top(cosineRounded(col("embedding"), col("q_emb")))
    val trunc = top(cosineRounded(
      slice(col("embedding"), 1, prefixDims), slice(col("q_emb"), 1, prefixDims)))
    full.select(col("q_id"), col("vec_id"))
      .join(trunc.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall_bp", expr("(n_overlap * 10000L) div n_truth"))
  }

  /** Matryoshka recall CURVE: [[matryoshkaRecallEval]] generalized to a
    * ladder of prefix widths from ONE materialized query-pair relation
    * — the full accuracy-vs-dimension trade table an MRL deployment
    * reads to pick its serving width (Kusupati et al. 2022 report
    * exactly this curve). The pair relation (queries × corpus)
    * materializes once; the full-width truth and each thin ranking are
    * separate bounded-heap TopKPerKey cuts over it, so the whole curve
    * costs one corpus scan + |widths|+1 heap passes. Exact integer
    * recall bp per (width, query).
    */
  def matryoshkaRecallCurve(
      emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 50L, 100L, 150L, 200L),
      k: Int = 10, widths: Seq[Int] = Seq(4, 8, 16, 32))
      : DataFrame = {
    require(widths.nonEmpty, "matryoshkaRecallCurve: widths must be non-empty")
    val queries = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // spread before the crossJoin (see matryoshkaRecallEval): the pinned
    // pair relation inherits this partitioning, so all |widths|+1 heap
    // passes run parallel partials instead of one task each
    val pairs = Materialize.local(emb.repartition(col("vec_id"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"), col("q_emb")))
    def top(sim: org.apache.spark.sql.Column): DataFrame =
      graft.plans.TopKPerKey.topKPerKey(
        pairs.select(col("q_id"), col("vec_id"), (-sim).as("neg_sim")),
        Seq("q_id"), Seq("neg_sim", "vec_id"), k)
    val full = top(cosineRounded(col("embedding"), col("q_emb")))
      .select(col("q_id"), col("vec_id"))
    widths.map { wd =>
      val thin = top(cosineRounded(
        slice(col("embedding"), 1, wd), slice(col("q_emb"), 1, wd)))
      full
        .join(thin.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
        .select(lit(wd).cast("int").as("width"), col("q_id"),
          col("n_truth"), col("n_overlap"),
          expr("(n_overlap * 10000L) div n_truth").as("recall_bp"))
    }.reduce(_.unionByName(_))
  }

  /** Variance-ranked dimension selection + recall eval — the
    * data-adaptive counterpart of [[matryoshkaRecallEval]]'s fixed
    * prefix: keep the `nDims` HIGHEST-VARIANCE dimensions (classic
    * unsupervised feature selection; for mean-centered embeddings this
    * is the diagonal approximation of PCA energy ranking) and measure
    * recall@k of the thin index against full-dimension truth. The
    * variance ranking is EXACT: on q = round(x·10⁴), score =
    * n·Σq² − (Σq)² (the uncentered identity — no division, no float),
    * accumulated in DECIMAL(38,0) so a 10⁹-row corpus cannot overflow;
    * identical integers rank identically in any engine. The selection
    * is a 64-row relation (dimension-bounded); both rankings ride
    * TopKPerKey as in the matryoshka eval.
    */
  def dimSelectRecallEval(
      emb: DataFrame, queryIds: Seq[Long] = Seq(0L, 50L, 100L, 150L, 200L),
      k: Int = 10, nDims: Int = 16): DataFrame = {
    val spreadEmb = emb.repartition(col("vec_id"))
    val dims = spreadEmb.select(posexplode(expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"))
      .as(Seq("dim", "q")))
    val score = dims.groupBy(col("dim"))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("n"),
        sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sq"),
        sum((col("q") * col("q"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sqq"))
      .select(col("dim"), (col("n") * col("sqq") - col("sq") * col("sq")).as("v"))
    val sel = score.orderBy(col("v").desc, col("dim").asc).limit(nDims)
      .agg(sort_array(collect_list(col("dim") + 1)).as("sel")) // 1-based
    val queries = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // spread (see matryoshkaRecallEval): single-row-group fixture scans
    // otherwise serialize both the variance explode and both heap passes
    val pairs = spreadEmb.crossJoin(broadcast(queries))
      .crossJoin(broadcast(sel))
      .filter(col("vec_id") =!= col("q_id"))
    def top(sim: org.apache.spark.sql.Column): DataFrame =
      graft.plans.TopKPerKey.topKPerKey(
        pairs.select(col("q_id"), col("vec_id"), (-sim).as("neg_sim")),
        Seq("q_id"), Seq("neg_sim", "vec_id"), k)
    val full = top(cosineRounded(col("embedding"), col("q_emb")))
    val thin = top(cosineRounded(
      expr("transform(sel, i -> element_at(embedding, CAST(i AS INT)))"),
      expr("transform(sel, i -> element_at(q_emb, CAST(i AS INT)))")))
    full.select(col("q_id"), col("vec_id"))
      .join(thin.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall_bp", expr("(n_overlap * 10000L) div n_truth"))
  }

  def kCenterSample(emb: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, "kCenterSample: k >= 1")
    val spark = emb.sparkSession
    // spread before quantizing (each of the k Gonzalez steps is a full
    // corpus aggregate, and the one-row-group fixture scan otherwise runs
    // every step single-task), and cut the lineage once so the k steps
    // read the quantized relation instead of re-scanning and re-quantizing
    // the corpus per step (aggregates are order-independent — results
    // unchanged)
    val q = graft.engine.Materialize.local(
      emb.repartition(col("vec_id")).select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))")
        .as("qv")))
    def d2To(sel: Array[Long]): org.apache.spark.sql.Column = {
      val litArr = typedlit(sel.toSeq)
      aggregate(
        zip_with(col("qv"), litArr, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    }
    val seed = q.orderBy(col("vec_id")).limit(1).collect()(0)
    var picked = Vector((seed.getLong(0),
      seed.getSeq[Long](1).toArray, 0L))
    var exhausted = false
    for (step <- 2 to k if !exhausted) {
      val minD2 = picked.map(p => d2To(p._2)).reduce(least(_, _))
      val top = q
        .filter(!col("vec_id").isInCollection(picked.map(_._1)))
        .select(col("vec_id"), col("qv"), minD2.as("mind"))
        .agg(max(struct(col("mind").as("m"), (-col("vec_id")).as("nid"),
          col("qv").as("v"))).as("t"))
        .select(col("t.m"), (-col("t.nid")).as("vec_id"), col("t.v"))
        .collect()(0)
      // max over an empty relation (k > corpus size) is a null struct:
      // stop and return the full selection instead of NPE-ing below.
      if (top.isNullAt(0)) exhausted = true
      else picked :+= ((top.getLong(1), top.getSeq[Long](2).toArray,
        top.getLong(0)))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      picked.zipWithIndex.map { case ((id, _, d2), i) =>
        org.apache.spark.sql.Row(i + 1, id, d2) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("d2_min",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
