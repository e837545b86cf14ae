package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination at corpus scale.
  *
  * The reference pipeline's contamination check is a substring/equality scan
  * against a benchmark set (see `contamination_scan`), which broadcasts the
  * benchmark as a literal list — fine for dozens of patterns, wrong for the
  * real case: an eval suite is millions of n-grams, too big for a broadcast
  * list join but far smaller than the corpus. The 100 TB shape is the
  * runtime-filter one Spark itself uses for join pruning:
  *
  *   1. aggregate the benchmark n-grams into ONE fixed-size bloom filter
  *      (`BloomFilterAggregate` over `xxhash64` — distributed build,
  *      order-independent, merges per partition);
  *   2. semi-filter the exploded corpus n-grams through
  *      `BloomFilterMightContain` — a codegen'd map-side predicate that
  *      drops ~all clean grams BEFORE any shuffle;
  *   3. confirm the survivors with an exact semi-join against the benchmark
  *      grams, so bloom false positives are eliminated and the result is
  *      EXACT (false negatives are impossible by construction).
  *
  * The blob is collected to the driver and re-enters the plan as a literal —
  * the same sketch-sized driver round-trip a broadcast variable or Spark's
  * own `InjectRuntimeFilter` scalar subquery makes; it never scales with the
  * corpus (default ~64 KiB at 2^16 items / 3% fpp). The two internal bloom
  * expressions are the session functions `graft_bloom_build` and
  * `graft_bloom_might_contain` ([[graft.functions.GraftExtensions]]), so the
  * blob travels as a binary literal Column through `call_function` instead
  * of SQL text.
  */
object Decontaminate {

  /** Corpus documents sharing at least one word-`n`-gram with the benchmark
    * set, with the count of distinct contaminated grams per document —
    * the GPT-3-style n-gram-overlap decontamination scan, bloom-prefiltered
    * but exact (step 3 above removes bloom false positives).
    */
  def bloomNgramScan(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      expectedItems: Long = 1L << 16): DataFrame = {
    // bloom inserts are idempotent, so the build side skips the distinct
    // shuffle entirely: one narrow scan → partial blooms → merged blob
    val bench = benchmark
      .repartition(col("doc_id"))
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("w"))
      .select(explode(graft.functions.TextFunctions.wordShingles(col("w"), n)).as("s"))
    val blob = bench
      .agg(call_function("graft_bloom_build",
        xxhash64(col("s")), lit(expectedItems)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val corpusGrams = Dedup.shingles(corpus, n)
    if (blob == null) { // empty benchmark → nothing can be contaminated
      return corpusGrams.filter(lit(false))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated_grams"))
    }
    val candidates = corpusGrams.filter(
      call_function("graft_bloom_might_contain", lit(blob), xxhash64(col("s"))))
    // exact confirm: the distinct benchmark grams are candidate-sized and
    // only exist to scrub false positives; corpusGrams is already distinct
    // per (doc_id, s), so the count below is the distinct-gram count
    candidates.join(bench.distinct(), Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated_grams"))
  }
}
