package graft.analytics

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-accelerated exact analytics: a bounded-size summary structure
  * prunes the expensive exact computation to the keys that can possibly
  * qualify, and an exact pass over only those keys produces the final
  * answer — so the sketch changes the COST, never the RESULT (the same
  * contract as [[Decontaminate]]'s Bloom pre-filter and [[Similarity]]'s
  * IVF shortlists).
  */
object Sketches {

  /** Exact heavy hitters over the corpus token-bigram stream, pre-filtered
    * by a count-min sketch (Cormode & Muthukrishnan, "An improved data
    * stream summary: the count-min sketch and its applications", J.
    * Algorithms 55(1), 2005).
    *
    * Output: every bigram whose EXACT occurrence count `n` satisfies
    * `n * thresholdDen >= total_bigrams` (a relative φ-heavy-hitter
    * threshold), with the exact count — bit-identical to the naive
    * full-vocabulary groupBy, which is exactly what the oracle runs.
    *
    * Why this shape at 100 TB: the naive query shuffles the FULL distinct
    * gram universe (billions of keys on a web corpus) just to keep the few
    * thousand above threshold. Here one map-side-combined pass builds the
    * d×w counter matrix (d·w rows TOTAL, parameter-sized — independent of
    * corpus size), the matrix returns to every task as a literal array
    * (the few-KiB "index head" shape of [[Similarity]]'s probes), and each
    * occurrence checks `min_i sketch[i][h_i(gram)] * den >= total` as a
    * codegen'd map-side PREDICATE — CMS never undercounts, so no true
    * heavy hitter is dropped. Only qualifying occurrences (the heavy tail
    * plus bounded hash-collision false positives) ever reach the exact
    * groupBy, whose HAVING on the exact count removes the false positives.
    * Both corpus passes are full scans, but only the first shuffles — and
    * it shuffles d·w combined rows per task, not the gram universe.
    *
    * The gram relation is map-only from the scan (tokenize + shingle —
    * deliberately NO repartition: shuffling the raw corpus before a
    * map-side aggregate would move the full 100 TB input for nothing).
    * Both passes need it; `cacheGrams` (default true, right for
    * local/bench scale) pins it between passes, while a 100 TB run passes
    * false — a second map-only scan is far cheaper than spilling a
    * corpus-sized intermediate to executor disks.
    *
    * @param thresholdDen heavy-hitter fraction denominator: keep grams
    *                     with count >= total/thresholdDen
    * @param d            sketch depth (independent hash rows)
    * @param w            sketch width (buckets per row)
    * @param cacheGrams   pin the gram relation between the two passes
    */
  def heavyHittersCms(
      docs: DataFrame, thresholdDen: Long = 2000L, d: Int = 4,
      w: Int = 256, cacheGrams: Boolean = true): DataFrame = {
    require(thresholdDen >= 1 && d >= 1 && w >= 1,
      s"heavyHittersCms: need positive (thresholdDen, d, w), got " +
        s"($thresholdDen, $d, $w)")
    // spread the COMPACT doc rows before the explode (the shingles()
    // house pattern): the fixture parquet is one row group = one scan
    // task, which otherwise serializes the gram explode, the cached gram
    // relation, and both downstream passes onto a single core. The
    // shuffle moves doc rows once — never the ~2x-larger gram relation.
    val grams0 = docs
      .repartition(col("doc_id"))
      .select(tokens(col("text")).as("wrds"))
      .select(explode(wordShingles(col("wrds"), 2)).as("gram"))
    // cache is freed by LRU eviction / session end; pass 1's collect below
    // is the materializing action
    val grams =
      if (cacheGrams)
        grams0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else grams0

    // row hash = hash of the (row_id, gram) pair — a two-arg xxhash64,
    // not a string concat (no per-gram allocation in the hot loop)
    def bucket(i: Int): Column =
      pmod(xxhash64(lit(i), col("gram")), lit(w))

    // pass 1 — the d×w counter matrix. One aggregate whose grouping
    // cardinality is d·w regardless of corpus size; the collect is
    // parameter-sized (d·w longs, ~KiB), the deployed-sketch analogue of
    // the IVF index head.
    val counters = Array.fill(d * w)(0L)
    var total = 0L
    grams
      .select(explode(expr(
        s"transform(sequence(0, ${d - 1}), i -> " +
          s"named_struct('row_id', i, 'bucket', " +
          s"pmod(xxhash64(i, gram), $w)))"))
        .as("rb"))
      .groupBy(col("rb.row_id").as("row_id"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .foreach { r =>
        val row = r.getInt(0); val b = r.getLong(1); val c = r.getLong(2)
        counters(row * w + b.toInt) = c
        if (row == 0) total += c // row 0's buckets partition the stream
      }
    val sketchLit = lit(counters)

    // pass 2 — map-side CMS predicate, then the exact groupBy over only
    // the occurrences that can possibly qualify; the HAVING on the exact
    // count drops collision-inflated false positives.
    val est = (0 until d)
      .map(i => element_at(sketchLit, (lit(i * w) + bucket(i) + 1).cast("int")))
      .reduce(least(_, _))
    grams
      .filter(est * lit(thresholdDen) >= lit(total))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * lit(thresholdDen) >= lit(total))
  }

  /** Quantile estimation from a mergeable fixed-width histogram sketch —
    * the one-pass, bounded-state alternative to an exact sort when the
    * value DOMAIN is bounded but the corpus is not (latency, prices,
    * lengths): bin every value at `binsPerUnit` resolution, and report
    * each requested quantile as the lower edge of the first bin whose
    * cumulative count reaches the ceil(q·n) rank. The answer is a
    * deterministic function of the exact integer bin counts — no
    * interpolation, no float accumulation — so it hash-checks across
    * engines, and the sketch merges by bin-count addition (map-side
    * combine does exactly that), which is what makes it a sketch: the
    * shuffle carries O(domain · binsPerUnit) rows regardless of corpus
    * size, and unions of corpora sum their sketches.
    *
    * The cumulative window is UNPARTITIONED by design: it runs on the
    * already-aggregated bin table (sketch-sized by the domain bound), the
    * same single-task tail every sketch summary has. The rank thresholds
    * are exact integer arithmetic (`(q·n + 99) div 100`), and the emitted
    * `est` double is one IEEE divide of the integer bin edge.
    */
  def histogramQuantiles(
      df: DataFrame,
      valueCol: String = "value",
      binsPerUnit: Long = 10L,
      qPcts: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    quantilesFromBins(valueBins(df, valueCol, binsPerUnit), binsPerUnit, qPcts)

  /** The sketch itself: exact integer bin counts at `binsPerUnit`
    * resolution. Mergeable by bin-count addition — which is also what
    * makes it the streaming face of the quantile estimate: a complete-mode
    * streaming groupBy over the same expression maintains exactly this
    * relation, and [[quantilesFromBins]] reads the estimate off either.
    */
  def valueBins(df: DataFrame, valueCol: String = "value",
      binsPerUnit: Long = 10L): DataFrame =
    df.select(floor(col(valueCol) * binsPerUnit).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))

  /** Quantile extraction from a materialized bin relation (see
    * [[histogramQuantiles]] for the estimator contract).
    */
  def quantilesFromBins(bins: DataFrame, binsPerUnit: Long,
      qPcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin"))
      .rowsBetween(Long.MinValue, 0)
    val cum = bins.select(col("bin"), sum(col("c")).over(w).as("cum"))
    val thresholds = bins.agg(sum(col("c")).as("n"))
      .select(explode(array(qPcts.map(q =>
        struct(lit(q).as("q_pct"),
          expr(s"(CAST($q AS BIGINT) * n + 99) div 100").as("rk"))): _*)).as("t"))
      .select(col("t.q_pct"), col("t.rk"))
    cum.crossJoin(broadcast(thresholds))
      .filter(col("cum") >= col("rk"))
      .groupBy(col("q_pct"), col("rk"))
      .agg(min(col("bin")).as("bin"))
      .select(col("q_pct"), col("rk"), col("bin"),
        (col("bin").cast("double") / lit(binsPerUnit.toDouble)).as("est"))
  }

  /** KMV (k-minimum-values) overlap estimation between per-source token
    * sets, next to the exact answer — the distinct-sketch SET-OPERATION
    * story (Beyer et al., "On synopses for distinct-value estimation under
    * multiset operations", SIGMOD'07): each source keeps only its k
    * hash-smallest tokens (a KiB sketch per 100 TB source), the union
    * sketch is the k smallest of the merged sketches, and Jaccard is
    * estimated as the fraction of union-sketch members present in BOTH
    * sides' sketches. Hashing is the engine-portable md5 32-bit prefix,
    * ties break on the token text, and the estimate is integer basis
    * points — every row replays exactly in SQL.
    *
    * Shape: one (source, token)-distinct aggregate, the per-source and
    * per-pair k-smallest cuts on the bounded-heap TopKPerKey (it beat the
    * `row_number` window on task CPU at sf0.1), sketch relations are
    * |sources|·k rows (broadcast everywhere), and only the EXACT
    * ground-truth side — which an eval key needs anyway — touches the
    * full token relation.
    */
  def kmvOverlapEval(docs: DataFrame, k: Int = 64): DataFrame = {
    import graft.plans.TopKPerKey.topKPerKey
    val toks = docs
      .select(col("source"), explode(tokens(col("text"))).as("tk"))
      .distinct()
      .withColumn("h",
        expr("CAST(conv(substring(md5(tk), 1, 8), 16, 10) AS BIGINT)"))
    val sk = topKPerKey(toks, Seq("source"), Seq("h", "tk"), k)
      .select(col("source"), col("h"), col("tk"))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.toDF("source_a")
      .crossJoin(broadcast(srcs.toDF("source_b")))
      .filter(col("source_a") < col("source_b"))
    val cand = pairs.join(broadcast(sk.toDF("source_a", "h", "tk")), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("h"), col("tk"))
      .union(pairs.join(broadcast(sk.toDF("source_b", "h", "tk")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("h"), col("tk")))
      .distinct()
    val ranked = topKPerKey(cand, Seq("source_a", "source_b"), Seq("h", "tk"), k)
    val inA = sk.select(col("source").as("source_a"), col("h"), col("tk"),
      lit(1L).as("in_a"))
    val inB = sk.select(col("source").as("source_b"), col("h"), col("tk"),
      lit(1L).as("in_b"))
    val est = ranked
      .join(broadcast(inA), Seq("source_a", "h", "tk"), "left")
      .join(broadcast(inB), Seq("source_b", "h", "tk"), "left")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("source_a"), col("source_b"),
        expr("(n_both * 10000) div k_used").as("est_jaccard_bp"))
    val sets = docs.select(col("source"), explode(tokens(col("text"))).as("tk"))
      .distinct()
    val sizes = sets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val common = sets.toDF("source_a", "tk")
      .join(sets.toDF("source_b", "tk"), Seq("tk"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val exact = common
      .join(broadcast(sizes.toDF("source_a", "n_a")), Seq("source_a"))
      .join(broadcast(sizes.toDF("source_b", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        expr("(n_common * 10000) div (n_a + n_b - n_common)")
          .as("exact_jaccard_bp"))
    est.join(exact, Seq("source_a", "source_b"))
      .withColumn("err_bp",
        abs(col("est_jaccard_bp") - col("exact_jaccard_bp")))
  }

  /** CMS sketch-error evaluation — the overcount audit that tells you
    * whether a (d, w) configuration is adequate for a corpus BEFORE
    * trusting [[heavyHittersCms]]'s prefilter: for the exact top-k
    * bigrams, the sketch estimate `min_i counter[i][h_i(gram)]` next to
    * the exact count and the overcount (≥ 0 always — CMS never
    * undercounts; expected ≤ 2·total/w per the paper's bound). This eval
    * variant hashes with md5 (engine-portable) instead of the production
    * path's xxhash64, so a SQL replay reproduces every counter
    * bit-for-bit and the key is oracle-checked end to end.
    *
    * Shape: one gram scan builds the d×w counter matrix (map-side
    * combine, parameter-sized shuffle), one exact groupBy ranks the true
    * top-k (TakeOrdered, k-bounded), and the estimate lookup joins the
    * d·k (row, col) probes against the counter relation — both sides
    * tiny. Nothing corpus-sized shuffles except the exact count build the
    * eval needs as ground truth anyway.
    */
  def cmsErrorEval(
      docs: DataFrame, d: Int = 4, w: Int = 1024, topK: Int = 20)
      : DataFrame = {
    // spread doc rows before the explode (see heavyHittersCms): both the
    // counter build and the exact top-k otherwise run single-task off the
    // one-row-group fixture scan
    val grams = docs
      .repartition(col("doc_id"))
      .select(tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(wordShingles(col("w"), 2)).as("gram"))
    // One (row, col) probe per gram per hash row, shared by the counter
    // build and the probe side. Explode the ROW INDEX first and compute
    // the bucket as a top-level column: inside the former
    // `transform(sequence(…), i -> …)` fragment the d md5 calls per gram
    // evaluated through the INTERPRETED lambda path, outside whole-stage
    // codegen — same concat/md5/conv/mod chain as before, identical
    // values, now codegen'd.
    def withRc(df: DataFrame): DataFrame = df
      .select(df.columns.map(col) :+
        explode(expr(s"sequence(0, ${d - 1})")).as("row"): _*)
      .withColumn("col", expr(
        "CAST(conv(substring(md5(concat(CAST(row AS STRING), ':', gram)), " +
          s"1, 8), 16, 10) AS BIGINT) % $w"))
    val counters = withRc(grams)
      .groupBy(col("row"), col("col"))
      .agg(count(lit(1)).as("c"))
    val top = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("gram")).limit(topK)
    val probes = withRc(top)
      .select(col("gram"), col("n_exact"), col("row"), col("col"))
    probes.join(counters, Seq("row", "col"))
      .groupBy(col("gram"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
  }

  /** HLL sketch MERGEABILITY audit: per-source Datasketches HLL sketches of
    * the token vocabulary (Spark's native `hll_sketch_agg`, codegen'd
    * partial aggregation) are UNIONED into a corpus estimate — the
    * distributed-sketch property that lets a 1000-executor ingest keep one
    * KB-sized state per source and still answer the global distinct
    * question (re-aggregating raw tokens would shuffle the corpus). Like
    * `approx_distinct_parts`, the emitted image is exact-count + an
    * integer error-band flag (|est − exact|·10⁴ div exact within
    * `bandBp`), so the oracle states exact + flag = 1 and a broken
    * estimator or union flips the hash red. Output: one row per source
    * plus the '__union__' row whose flag certifies the merged estimate.
    */
  def hllUnionSources(docs: DataFrame, bandBp: Long = 1500L): DataFrame = {
    val tk = docs
      .select(col("source"), explode(tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
    val per = tk.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(tk)").as("sk"),
        countDistinct(col("tk")).as("n_exact"))
    val perOut = per.select(col("source"), col("n_exact"),
      expr("hll_sketch_estimate(sk)").as("est"))
    val exactAll = tk.agg(countDistinct(col("tk")).as("n_exact"))
    val unionOut = per.agg(expr("hll_union_agg(sk)").as("u"))
      .crossJoin(broadcast(exactAll))
      .select(lit("__union__").as("source"), col("n_exact"),
        expr("hll_sketch_estimate(u)").as("est"))
    perOut.unionAll(unionOut)
      .select(col("source"), col("n_exact"),
        (expr("abs(est - n_exact) * 10000L div " +
          "(CASE WHEN n_exact = 0 THEN 1 ELSE n_exact END)") <= bandBp)
          .cast("int").as("within_band"))
  }

  /** Empirical Bloom-filter false-positive audit — the commissioning
    * check run before trusting a Bloom prefilter's m/k sizing on real
    * key distributions: build the filter over the DISTINCT build keys
    * (md5-positional bits, so any engine replays the exact bit pattern —
    * the xxhash64 production filter in [[graft.engine.Ops]] is
    * deliberately NOT used here because the oracle cannot replay it),
    * probe with a synthetic key set guaranteed disjoint (keys shifted
    * past 10x the max build key), and report the observed FP rate in
    * exact ppm. The word table is a bounded collect (<= mBits/64 longs
    * regardless of data size); the probe is map-only against the
    * broadcast literal array.
    */
  def bloomFprAudit(
      dim: DataFrame, keyCol: String,
      mBits: Int = 1 << 14, numHashes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"bloomFprAudit: bad mBits $mBits")
    val keys = dim.select(col(keyCol).cast("long").as("k")).distinct()
    def pos(i: Int, c: Column): Column =
      expr(s"CAST(conv(substring(md5(concat('$i:', CAST(${c.toString} AS STRING))), " +
        s"1, 12), 16, 10) AS BIGINT) % $mBits")
    val posList = (0 until numHashes).map(i => pos(i, col("k")))
    val wordRows = keys
      .select(explode(array(posList: _*)).as("p")).distinct()
      .select(expr("CAST(p div 64 AS INT)").as("w"),
        expr("shiftleft(1L, CAST(p % 64 AS INT))").as("b"))
      .groupBy(col("w")).agg(bit_or(col("b")).as("word"))
      .collect() // bounded: <= mBits/64 rows regardless of data size
    val words = new Array[Long](mBits / 64)
    wordRows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    val mx = keys.agg(max(col("k")).as("mk"))
    val probes = keys.crossJoin(broadcast(mx))
      .select((col("k") + (col("mk") + 1L) * 10L).as("q"))
    val test = (0 until numHashes).map { i =>
      val p = s"CAST(conv(substring(md5(concat('$i:', CAST(q AS STRING))), " +
        s"1, 12), 16, 10) AS BIGINT) % $mBits"
      expr(s"((element_at(__bf, CAST(($p) div 64 AS INT) + 1) " +
        s">> CAST(($p) % 64 AS INT)) & 1) = 1")
    }.reduce(_ && _)
    probes
      .withColumn("__bf", typedlit(words.toSeq))
      .agg(count(lit(1)).as("n_probe"),
        sum(test.cast("long")).as("n_fp"))
      .select(lit(mBits.toLong).as("m_bits"),
        lit(numHashes.toLong).as("k_hashes"),
        col("n_probe").as("n_build"), // probes = shifted build keys, 1:1
        col("n_probe"), col("n_fp"),
        expr("CASE WHEN n_probe = 0 THEN 0L " +
          "ELSE (n_fp * 1000000L) div n_probe END").as("fpr_ppm"))
  }
}
