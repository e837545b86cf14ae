package graft.analytics

import graft.engine.Materialize
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: source mixing,
  * corpus-frequency scoring, quantile-band quality filtering, PII scrubbing
  * and deterministic training-order shuffling. Like the dedup tier, every
  * operator is a shuffle-on-key DataFrame transform with engine-independent
  * (integer / md5 / single-IEEE-op) arithmetic, so results are identical
  * across partitionings and across engines — the property the DuckDB oracle
  * hash-checks.
  */
object Curation {

  /** Temperature-based source mixing (the multi-corpus sampling step of LM
    * training): source `s` with `n_s` documents gets a quota proportional to
    * `n_s^alpha` (alpha = 1/2 here — the sqrt tempering that upweights small
    * sources), and the quota is filled deterministically by smallest doc id.
    *
    * Arithmetic is oracle-exact by construction: the per-source weight is
    * `w = isqrt(n_s · 10^12)` — fixed-point square root as float sqrt +
    * integer ±1 repair ([[isqrtSql]]) — and the quota is the integer
    * ceil-div `(target·w + Σw − 1) div Σw`: no float ratio, no ceil on an
    * irrational boundary, bit-stable in any engine and any libm (a 1-ulp
    * platform sqrt difference flipped the old round(sqrt,9)/double-ceil
    * form). The quota table is tiny (one row per
    * source) and broadcast; the only corpus-sized shuffle is the per-source
    * rank window, partitioned by source so it parallelizes. One source
    * dominating the corpus would serialize its rank window — at that scale
    * swap the "smallest ids first" fill for the hash-based
    * [[graft.engine.Ops.deterministicSample]] at rate quota/n_s, which is
    * map-only and needs no per-source total order.
    *
    * Quotas are capped by availability: sampling is without replacement, so
    * a small source whose tempered quota exceeds its size contributes all
    * its documents and the output lands short of `targetTotal` by the
    * deficit (sqrt-tempering upweights exactly those sources). Callers that
    * need the exact total redistribute the deficit in a second pass.
    */
  def sourceMixSample(
      docs: DataFrame,
      targetTotal: Long,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val weights = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", expr("CAST(n AS DECIMAL(38,0)) * 1000000000000"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(x AS DOUBLE))) AS DECIMAL(38,0))"))
      .withColumn("w", expr(isqrtSql("x", "s0")))
      .select(col(sourceCol), col("w"))
    val total = weights.agg(sum(col("w")).as("sw"))
    val quotas = weights.crossJoin(broadcast(total))
      .select(col(sourceCol),
        expr(s"(CAST($targetTotal AS DECIMAL(38,0)) * w + sw - 1) div sw")
          .as("quota"))
    docs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(sourceCol)).orderBy(col(idCol))))
      .join(broadcast(quotas), Seq(sourceCol))
      .filter(col("rk") <= col("quota"))
      .select(col(idCol), col(sourceCol), col("rk"))
  }

  /** C4-style text normalization (Raffel et al. 2020 §2.2 spirit):
    * lowercase, strip non-alphanumerics to spaces, collapse whitespace,
    * trim — the canonical form exact dedup and n-gram passes should key
    * on (raw-text dedup misses trivial formatting variants). Emits the
    * cleaned fingerprint plus before/after lengths and a changed flag —
    * map-only, zero shuffles; the cleaned TEXT itself stays inside the
    * task (only the 32-char md5 leaves), so the pass adds no shuffle
    * volume at 100 TB. Regex classes are deliberately ASCII-safe
    * (`[^a-z0-9 ]`, `" +"`) so Java regex and RE2 agree.
    */
  def cleanNormalize(docs: DataFrame): DataFrame = {
    val clean = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(col("doc_id"),
      md5(clean.cast("binary")).as("clean_md5"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(clean).cast("long").as("n_chars_clean"),
      (clean =!= col("text")).cast("int").as("changed"))
  }

  /** Token-budget mixture plan — the sampling-rate table a multi-source
    * pretraining run is configured from (the Pile / DoReMi shape): per
    * source, its token count, natural share, the sqrt-tempered target
    * token allocation for a fixed budget, and the implied epoch factor
    * (basis points; > 10000 means the source repeats). Where
    * [[sourceMixSample]] DRAWS a tempered sample, this emits the PLAN —
    * the artifact reviewed and versioned before a 100 TB mixing job runs.
    *
    * One partial-aggregating corpus sweep (map-side token counts per
    * source), then |sources|-row arithmetic against a one-row broadcast
    * total. ALL arithmetic is integer-exact: the sqrt temper weight is
    * `w = isqrt(n_tokens · 10^12)` — a fixed-point square root computed as
    * float sqrt + integer ±1 repair (the [[isqrtSql]] pattern, proven
    * cross-engine in [[negativeSamples]]) — and the target is
    * `budget · w div Σw` in DECIMAL(38,0). No float ratio, no floor on an
    * irrational boundary, so the result is bit-stable in any engine and
    * any libm (the round(sqrt,9)/double-floor formulation this replaces
    * flipped targets by 1 on a 1-ulp platform sqrt difference).
    */
  def sourceMixturePlan(docs: DataFrame, budgetTokens: Long = 1000000L)
      : DataFrame = {
    val toks = docs.groupBy(col("source"))
      .agg(sum(size(tokens(col("text")))).as("n_tokens"))
    val weights = toks
      .withColumn("x", expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000000000"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(x AS DOUBLE))) AS DECIMAL(38,0))"))
      .withColumn("w", expr(isqrtSql("x", "s0")))
      .select(col("source"), col("n_tokens"), col("w"))
    val tot = weights.agg(sum(col("w")).as("sw"), sum(col("n_tokens")).as("tt"))
    weights.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr(s"(CAST($budgetTokens AS DECIMAL(38,0)) * w) div sw").cast("long"))
      .select(col("source"), col("n_tokens"),
        expr("(n_tokens * 10000L) div tt").as("share_nat_bp"),
        col("target_tokens"),
        expr("(target_tokens * 10000L) div n_tokens").as("epochs_bp"))
  }

  /** Per-source document capping — the "domain frequency cap" of web-corpus
    * pipelines (C4 / RefinedWeb keep at most N pages per registered domain
    * so no single host dominates the mixture). Docs within a source are
    * ranked by (n_chars DESC, doc_id) — keep the longest first, a
    * deterministic priority — and a doc survives iff its rank is at most
    * `maxDocs` AND its running token total is within `budgetTokens`
    * (the first doc of a source always survives, so every source stays
    * represented even when its best doc alone exceeds the budget).
    *
    * Scale shape: the rank cut runs on the bounded-heap
    * [[graft.plans.TopKPerKey]] operator — O(maxDocs) memory per source,
    * no full sort, no source-sized window — and only the surviving
    * ≤ `maxDocs` rows per source reach the running-sum window, so the
    * window partition is parameter-sized no matter how many billions of
    * docs a hot domain has. Token counts are computed map-side before the
    * heap (the heap carries counts, not text).
    *
    * Output: one row per SURVIVING doc — (source, doc_id, rk, tok_cum) —
    * so the oracle hash checks every keep/drop decision, not a summary.
    */
  def sourceDomainCap(docs: DataFrame, maxDocs: Int = 15,
      budgetTokens: Long = 700L): DataFrame = {
    val ranked = graft.plans.TopKPerKey.topKPerKey(
      docs.select(col("source"), col("doc_id"),
        (-col("n_chars")).as("neg_len"),
        tokenCount(col("text")).as("n_tok")),
      Seq("source"), Seq("neg_len", "doc_id"), maxDocs)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("neg_len"), col("doc_id"))
    ranked
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("tok_cum", sum(col("n_tok")).over(w))
      .filter(col("tok_cum") <= budgetTokens || col("rk") === 1L)
      .select(col("source"), col("doc_id"), col("rk"), col("tok_cum"))
  }

  /** Tie-aware AUC of a document score against binary labels, in EXACT
    * integer parts-per-million — the ranking-quality commissioning check
    * run before a quality classifier is trusted to filter a corpus. Uses
    * the rank-sum identity: AUC = Σ over score groups of
    * `n_pos(g) · (negatives_below(g) + n_neg(g)/2)`, normalized by
    * `n_pos · n_neg`; the whole computation is doubled to keep the tie
    * half-credit integral, and the final ratio is a DECIMAL(38,0)
    * cross-multiplication (pair counts reach N² — far past BIGINT at
    * corpus scale) floored into ppm, so the result hash-matches any
    * engine.
    *
    * Shape at scale: one map-side-combining groupBy collapses the corpus
    * to its DISTINCT SCORE VALUES; the ordered prefix window then runs
    * over that domain-sized relation (a score domain is bounded — lengths,
    * quantized ratios — regardless of corpus rows), and a one-row
    * aggregate finishes. The corpus itself is touched exactly once.
    */
  def aucEval(docs: DataFrame, score: Column, label: Column): DataFrame = {
    val g = docs.select(score.as("s"), label.cast("int").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).cast("long").as("np"),
        sum(lit(1) - col("y")).cast("long").as("nn"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("nb", coalesce(sum(col("nn")).over(w), lit(0L)))
      .select(col("np"), col("nn"),
        (col("np").cast("decimal(38,0)") * (col("nb") * 2 + col("nn")))
          .as("c2"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("c2")).as("auc2"))
      .select(col("n_pos"), col("n_neg"),
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0L ELSE " +
          "CAST((CAST(auc2 AS DECIMAL(38,0)) * 500000) div " +
          "(CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT) END")
          .as("auc_ppm"))
  }

  /** Preference-pair mining for contrastive/DPO-style training: within
    * each source, pair the k highest-scoring documents with the k
    * lowest-scoring ones rank-for-rank (best with worst, 2nd best with 2nd
    * worst …), emitting `(source, chosen, rejected, gap)`. The score is a
    * caller-supplied deterministic column; ties break on doc_id, pairs
    * where the two sides coincide or the gap is not strictly positive are
    * dropped (tiny sources can fold the two rankings together).
    *
    * Shape at scale: BOTH rank cuts run on the bounded-heap
    * [[graft.plans.TopKPerKey]] (O(k) memory per source, no source-sized
    * sort or window over the corpus); ranking and the rank-join then touch
    * only the 2k surviving rows per source. One corpus scan total.
    */
  def preferencePairs(docs: DataFrame, score: Column, k: Int = 5)
      : DataFrame = {
    val scored = docs.select(col("source"), col("doc_id"), score.as("sc"))
    def cut(flip: Boolean): DataFrame = {
      val base = if (flip) scored.withColumn("o", -col("sc"))
        else scored.withColumn("o", col("sc"))
      val w = Window.partitionBy(col("source")).orderBy(col("o"), col("doc_id"))
      graft.plans.TopKPerKey.topKPerKey(base, Seq("source"), Seq("o", "doc_id"), k)
        .withColumn("rk", row_number().over(w))
        .select(col("source"), col("doc_id"), col("sc"), col("rk"))
    }
    val best = cut(flip = true)
      .select(col("source"), col("doc_id").as("chosen"),
        col("sc").as("sc_c"), col("rk"))
    val worst = cut(flip = false)
      .select(col("source"), col("doc_id").as("rejected"),
        col("sc").as("sc_r"), col("rk"))
    best.join(worst, Seq("source", "rk"))
      .filter(col("chosen") =!= col("rejected") && col("sc_c") > col("sc_r"))
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("chosen"), col("rejected"), (col("sc_c") - col("sc_r")).as("gap"))
  }

  /** Corpus-frequency document scoring — the unigram-LM-likelihood proxy
    * kept integer-exact: one corpus sweep builds the term-frequency table,
    * then each document is scored by the frequencies of its own token
    * occurrences (total / min / rare-count). Low `sum_tf` / high `n_rare`
    * marks out-of-distribution documents the way low unigram log-likelihood
    * would, without any floating-point log (so the oracle hash is stable).
    *
    * Occurrences are pre-aggregated to per-document distinct tokens with
    * counts BEFORE the tf join, so the join key ("the", in every document)
    * carries one row per DOCUMENT, not one per occurrence — the skew bound
    * that keeps the hot-token partitions proportional to corpus size, not
    * token frequency. Both shuffles are on the token string — the same key
    * — so the tf build and the score join co-partition; no corpus-sized
    * broadcast anywhere.
    */
  def unigramScore(docs: DataFrame, rareMax: Long = 50): DataFrame = {
    val perDoc = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
    val tf = perDoc.groupBy(col("tk")).agg(sum(col("c")).as("tf"))
    perDoc.join(tf, Seq("tk"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"),
        sum(when(col("tf") <= rareMax, col("c")).otherwise(0L)).as("n_rare"))
  }

  /** Exact PHRASE search — the positional-index phrase query (the Lucene
    * `PhraseQuery` shape, distributed): documents containing the terms at
    * CONSECUTIVE positions, ranked by occurrence count. Term-frequency
    * ranking ([[keywordSearch]]/[[bm25TopK]]) treats the query as a bag;
    * retrieval-augmented pipelines need the exact-phrase variant for
    * quotes, API names and titles.
    *
    * Shape at scale: the positional explode is filtered to the query's
    * terms BEFORE anything shuffles — the inverted-index read, a tiny
    * fraction of the corpus. Each subsequent term then joins on
    * `(doc_id, anchor_pos)` with its position shifted back by its phrase
    * offset, so every join is an equi-join on the same key pair
    * (co-partitioned after the first shuffle) and an occurrence survives
    * iff every term sat at its offset. Top-k via count desc, doc_id asc.
    */
  def phraseSearchTopK(
      docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "phraseSearchTopK: empty phrase")
    val pos = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tk")))
      .filter(col("tk").isin(terms.distinct: _*))
    phraseAnchorsTopK(pos, terms, k)
  }

  /** The phrase-match core shared by the direct and probe paths: chain of
    * positional equi-joins (term i must sit at anchor position + i), then
    * per-doc occurrence counts, TakeOrdered top-k.
    */
  private def phraseAnchorsTopK(
      pos: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val anchors = terms.zipWithIndex.tail.foldLeft(
      pos.filter(col("tk") === terms.head).select(col("doc_id"), col("p"))) {
      case (acc, (term, i)) =>
        acc.join(
          pos.filter(col("tk") === term)
            .select(col("doc_id"), (col("p") - i).as("p")),
          Seq("doc_id", "p"))
    }
    anchors.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  private val verifiedTextIndexDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val TextIndexFormatVersion = 2L // v2: + doclens.parquet, meta sum_dl

  /** Content signature of the document corpus for index-staleness checks
    * (the [[Similarity]] ANN index pattern applied to text): order- and
    * partitioning-independent sums, one map-side-combined scan.
    */
  private def docsSignature(docs: DataFrame): DataFrame =
    docs.agg(coalesce(count(lit(1)), lit(0L)).as("n"),
      coalesce(sum(col("doc_id")), lit(0L)).as("sid"),
      // xor-fold, not sum: order/partition-independent like a sum but
      // cannot overflow under ANSI arithmetic
      coalesce(bit_xor(xxhash64(col("text"))), lit(0L)).as("stext"))

  /** Build (or refresh, when the stored signature no longer matches the
    * corpus) the deployed positional inverted index: postings
    * (tk, doc_id, p) written hash-BUCKETED BY TOKEN so a probe for q
    * terms statically prunes to ≤ q of `buckets` partition directories —
    * the text twin of the IVF cell-partitioned codes. Tokenization runs
    * ONCE at build; every subsequent query is scan-free on the corpus.
    * Returns whether a build ran.
    */
  def textIndexBuildIfStale(
      docs: DataFrame, indexDir: String, buckets: Int = 64): Boolean = {
    if (verifiedTextIndexDirs.contains(indexDir)) return false
    val spark = docs.sparkSession
    val sig = docsSignature(docs).collect()(0)
    val fresh =
      try {
        val meta = spark.read.parquet(s"$indexDir/meta.parquet").collect()(0)
        (0 to 2).forall(i => meta.getLong(i) == sig.getLong(i)) &&
          meta.getLong(3) == TextIndexFormatVersion &&
          meta.getLong(4) == buckets.toLong
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!fresh) {
      docs.repartition(col("doc_id"))
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tk")))
        .withColumn("bucket", pmod(xxhash64(col("tk")), lit(buckets.toLong)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$indexDir/postings.parquet")
      // per-doc lengths: the 2-long-per-row side relation BM25's length
      // normalization joins against (candidate docs only, column-pruned)
      docs.select(col("doc_id"), tokenCount(col("text")).as("dl"))
        .write.mode("overwrite").parquet(s"$indexDir/doclens.parquet")
      docsSignature(docs)
        .withColumn("version", lit(TextIndexFormatVersion))
        .withColumn("buckets", lit(buckets.toLong))
        .crossJoin(broadcast(
          docs.agg(coalesce(sum(tokenCount(col("text"))), lit(0L)).as("sum_dl"))))
        .write.mode("overwrite").parquet(s"$indexDir/meta.parquet")
    }
    verifiedTextIndexDirs.add(indexDir)
    !fresh
  }

  /** Probe-only phrase search against [[textIndexBuildIfStale]]'s
    * materialized postings: the query terms' buckets are computed up
    * front (one |terms|-row local job against the SAME xxhash64 the
    * build used — never a reimplementation that could drift), the
    * postings read statically prunes to those partition directories, and
    * the match is the same positional-join chain as the direct path — so
    * the probe shares the direct key's oracle. Corpus cost at query
    * time: zero.
    */
  def phraseSearchProbe(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "phraseSearchProbe: empty phrase")
    import spark.implicits._
    // bucket count comes from the index's own meta — the probe must hash
    // into the layout the build actually wrote
    val nBuckets =
      spark.read.parquet(s"$indexDir/meta.parquet").collect()(0).getLong(4)
    val buckets = terms.distinct.toDF("tk")
      .select(pmod(xxhash64(col("tk")), lit(nBuckets)).as("b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val pos = spark.read.parquet(s"$indexDir/postings.parquet")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tk").isin(terms.distinct: _*))
      .select(col("doc_id"), col("p"), col("tk"))
    phraseAnchorsTopK(pos, terms, k)
  }

  /** Probe-only BM25 against the deployed text index: tf comes from the
    * pruned postings buckets, df from counting the posting groups,
    * n_docs/sum_dl from the index meta head, and document length from
    * the materialized doclens side relation — joined for CANDIDATE docs
    * only. Identical scoring expression (and rounding) to [[bm25TopK]],
    * so the probe shares the direct key's oracle; the corpus itself is
    * never read at query time.
    */
  def bm25Probe(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty && k >= 1,
      s"bm25Probe: needs a non-empty term list and k >= 1, got (${terms.size}, $k)")
    import spark.implicits._
    val meta = spark.read.parquet(s"$indexDir/meta.parquet").collect()(0)
    val nBuckets = meta.getAs[Long]("buckets")
    val nDocs = meta.getAs[Long]("n")
    val sumDl = meta.getAs[Long]("sum_dl")
    val bucketIds = terms.distinct.toDF("tk")
      .select(pmod(xxhash64(col("tk")), lit(nBuckets)).as("b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val tf = spark.read.parquet(s"$indexDir/postings.parquet")
      .filter(col("bucket").isin(bucketIds: _*))
      .filter(col("tk").isin(terms.distinct: _*))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val dl = spark.read.parquet(s"$indexDir/doclens.parquet")
    tf.join(broadcast(dfT), Seq("tk"))
      .join(dl, Seq("doc_id"))
      .withColumn("n_docs", lit(nDocs)).withColumn("sum_dl", lit(sumDl))
      .select(col("doc_id"),
        expr("round(CAST((1000000L * n_docs) div df AS DOUBLE) * " +
          "((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * " +
          "(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))), 6)")
          .cast("decimal(18,6)").as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("w")).cast("decimal(38,6)").as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("double").as("score"))
  }

  /** Model-based quality scoring — the fastText/DCLM-style linear
    * classifier over hashed bag-of-n-gram features that modern pretraining
    * pipelines run as their primary quality filter (Joulin et al., "Bag of
    * Tricks for Efficient Text Classification"; the hashing trick from
    * Weinberger et al. 2009). Each document's distinct unigrams and bigrams
    * hash into a fixed bucket space and the score is the sum of the bucket
    * weights — embarrassingly parallel, so the whole operator is MAP-ONLY:
    * per-row HOFs (array_distinct → transform → aggregate), zero shuffles,
    * zero joins, the shape that scans 100 TB at full cluster read
    * bandwidth.
    *
    * Weights here are derived deterministically from the feature hash
    * (`md5 → bucket → centered residue`) — the stand-in for a trained
    * weight vector, chosen so a DuckDB oracle reproduces the score
    * bit-for-bit. A production deployment swaps in learned weights as a
    * broadcast lookup joined on the same bucket id (or a literal array
    * indexed by it); the feature extraction, hashing and scoring plumbing —
    * the part Spark owns — is identical. All arithmetic is integer, so the
    * result is partitioning-independent.
    */
  def linearQualityScore(docs: DataFrame, nBuckets: Int = 1001): DataFrame = {
    require(nBuckets % 2 == 1, "nBuckets must be odd so weights center on 0")
    val half = (nBuckets - 1) / 2
    def weight(t: Column): Column =
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long") %
        nBuckets - half
    def scoreOf(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + weight(x))
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        array_distinct(col("w")).as("uni"),
        array_distinct(wordShingles(col("w"), 2)).as("big"))
      .select(
        col("doc_id"),
        scoreOf(col("uni")).as("uni_score"),
        scoreOf(col("big")).as("bi_score"),
        (size(col("uni")) + size(col("big"))).cast("long").as("n_features"))
      .withColumn("score", col("uni_score") + col("bi_score"))
      .withColumn("kept",
        when(col("score") > 0, 1).otherwise(0))
  }

  /** Quantile-band quality filter: keep documents whose length sits between
    * the corpus p25 and p75 — the "trim both tails" curation step. The two
    * quantiles are one tiny aggregate row, broadcast against the corpus; the
    * corpus itself is a single filtered scan (no shuffle at all), which is
    * the right shape at 100 TB: quantiles from a cheap first pass (or a
    * sketch), then a map-only filter.
    */
  def lengthBandFilter(
      docs: DataFrame,
      lenCol: String = "n_chars",
      lo: Double = 0.25,
      hi: Double = 0.75): DataFrame = {
    val bands = docs.agg(
      expr(s"percentile($lenCol, $lo)").as("p_lo"),
      expr(s"percentile($lenCol, $hi)").as("p_hi"))
    docs.crossJoin(broadcast(bands))
      .filter(col(lenCol) >= col("p_lo") && col(lenCol) <= col("p_hi"))
      .select(col("doc_id"), col(lenCol))
  }

  /** Staged curation funnel — the survivor-count table of a sequential
    * pipeline run: decontaminate, THEN quality-filter the survivors, THEN
    * exact-dedup the survivors of that. Unlike [[curationAudit]] (whose
    * flags are each computed on the FULL corpus), every stage here is
    * recomputed on the previous stage's output — the length band comes from
    * the decontaminated distribution, and the dedup representative is the
    * min doc_id among quality survivors — exactly what running the
    * operators in sequence produces, so the funnel numbers are the ones a
    * pipeline report would show. Each stage materializes once (the
    * production shape: a 100 TB run checkpoints between stages anyway);
    * per-stage cost is the operators' own — a broadcast percentile pair, a
    * text-keyed dedup shuffle.
    */
  def curationFunnel(
      docs: DataFrame,
      contamPatterns: Seq[String])
      : DataFrame = {
    def stat(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("n_chars_total"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_chars_total"))
    val s0 = docs.select(col("doc_id"), col("n_chars"), col("text"))
    val contaminated = contamPatterns
      .map(p => instr(col("text"), lit(p)) > 0).reduce(_ || _)
    val s1 = Materialize.local(s0.filter(!contaminated))
    val bands = s1.agg(
      expr("percentile(n_chars, 0.25)").as("p_lo"),
      expr("percentile(n_chars, 0.75)").as("p_hi"))
    val s2 = Materialize.local(
      s1.crossJoin(broadcast(bands))
        .filter(col("n_chars") >= col("p_lo") && col("n_chars") <= col("p_hi"))
        .select(col("doc_id"), col("n_chars"), col("text")))
    val reps = s2.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val s3 = s2.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
    stat("1_input", s0)
      .union(stat("2_decontaminated", s1))
      .union(stat("3_quality_band", s2))
      .union(stat("4_exact_dedup", s3))
  }

  /** End-to-end corpus build — the five-stage chain a real pretraining
    * data pipeline runs as ONE job, each stage consuming the previous
    * stage's survivors (not full-corpus flags): exact dedup by text
    * fingerprint (min-doc_id representative), quality gate (interquartile
    * n_chars band recomputed on the DEDUPED length distribution),
    * decontamination (drop docs containing any benchmark pattern),
    * tempered source mixing ([[sourceMixSample]]'s isqrt quota over the
    * surviving per-source counts), and whole-document next-fit packing
    * ([[docPackNextFit]]). Emits the packed-corpus manifest
    * (doc_id, source, bin, off_tokens) — the artifact a training run
    * reads — so any divergence in ANY upstream stage shifts membership,
    * quotas, or bin offsets and is caught by the single end-to-end oracle.
    *
    * Per-stage cost is each operator's own at-scale shape: the dedup
    * shuffle carries the 32-char fingerprint (never full text), the band
    * is a one-row broadcast, decontamination is map-only, the mix quota
    * table is |sources| rows broadcast, and packing folds per-source runs
    * in one shuffle. Stages are cut through `Materialize.local`
    * between shufflesets exactly as [[curationFunnel]] does (a 100 TB run
    * checkpoints between stages anyway).
    */
  def corpusBuildE2E(
      docs: DataFrame,
      contamPatterns: Seq[String],
      targetTotal: Long = 200L,
      capacity: Long = 2048L)
      : DataFrame = {
    val s0 = docs.select(col("doc_id"), col("source"), col("n_chars"),
      col("text"))
    // stage 1: exact dedup — min-id representative per text fingerprint
    val keep = s0
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val s1 = Materialize.local(
      s0.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // stage 2: quality gate — IQR length band on the deduped survivors
    val bands = s1.agg(
      expr("percentile(n_chars, 0.25)").as("p_lo"),
      expr("percentile(n_chars, 0.75)").as("p_hi"))
    val s2 = s1.crossJoin(broadcast(bands))
      .filter(col("n_chars") >= col("p_lo") && col("n_chars") <= col("p_hi"))
      .select(col("doc_id"), col("source"), col("text"))
    // stage 3: decontaminate the quality survivors
    val contaminated = contamPatterns
      .map(p => instr(col("text"), lit(p)) > 0).reduce(_ || _)
    val s3 = Materialize.local(s2.filter(!contaminated))
    // stage 4: sqrt-tempered source mix over the surviving distribution
    val picked = sourceMixSample(s3, targetTotal)
    val s4 = s3.join(picked.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // stage 5: whole-document next-fit packing → the training manifest
    docPackNextFit(s4, capacity)
  }

  /** Full curation audit — the per-document decision table a training-data
    * pipeline materializes before dropping anything: exact-dup (not the
    * min-id representative of its fingerprint), near-dup (non-representative
    * member of a MinHash connected component), length outlier (outside the
    * corpus p25..p75 band) and benchmark contamination (shares a word
    * 4-gram with the held-out benchmark slice, bloom-prefiltered). Flags
    * compose the dedup/cluster/filter/decontaminate operators as LEFT joins
    * on doc_id, so every stage's verdict is auditable per document — the
    * "why was this dropped" table — and the actual drop is one filter over
    * this relation. Each input operator keeps its own at-scale shape; the
    * audit adds only doc_id-keyed joins (co-partitioned after the first).
    * The iterative sub-operators (LSH bands, connected components) cut
    * their lineage exactly as in `Dedup`.
    */
  def curationAudit(docs: DataFrame): DataFrame = {
    // ONE fingerprint scan feeds both the per-doc fp column and the group
    // representatives (materialized so the two consumers share it); the
    // grouping itself still goes through the standalone operator so the
    // audit's exact-dup verdict cannot drift from Dedup.fingerprintGroups
    // (CurationSpec pins the equality)
    val fp = Materialize.local(
      docs.select(col("doc_id"), fingerprint(col("text")).as("fp")))
    val keep = Dedup.fingerprintGroupsFromFps(fp)
      .select(col("fp").as("f"), col("keep_id").as("k"))
    val comp = Dedup.connectedComponents(
        Dedup.lshCandidatePairs(docs).select(col("id_a"), col("id_b")))
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id"), lit(1).as("nd"))
    val bands = docs.agg(
      expr("percentile(n_chars, 0.25)").as("p_lo"),
      expr("percentile(n_chars, 0.75)").as("p_hi"))
    val cont = Decontaminate.bloomNgramScan(
        corpus = docs.filter(col("doc_id") % 50 =!= 0),
        benchmark = docs.filter(col("doc_id") % 50 === 0), n = 4)
      .select(col("doc_id"), lit(1).as("ct"))
    docs.join(fp.withColumnRenamed("fp", "f"), Seq("doc_id")).join(keep, Seq("f"))
      .crossJoin(broadcast(bands))
      .join(comp, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("k"), 1).otherwise(0).as("dup_exact"),
        coalesce(col("nd"), lit(0)).as("dup_neardup"),
        when(col("n_chars") < col("p_lo") || col("n_chars") > col("p_hi"), 1)
          .otherwise(0).as("len_outlier"),
        coalesce(col("ct"), lit(0)).as("contaminated"))
  }

  /** Per-source rollup of [[curationAudit]] — the provider-level verdict
    * table (which corpus supplier ships the duplicates, the boilerplate
    * mirrors, the contaminated split): same audit relations, one extra
    * source-keyed aggregate. |sources| output rows; reporting shape.
    */
  def sourceCurationReport(docs: DataFrame): DataFrame =
    curationAudit(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dup_exact").cast("long")).as("n_exact_dups"),
        sum(col("dup_neardup").cast("long")).as("n_neardups"),
        sum(col("len_outlier").cast("long")).as("n_len_outliers"),
        sum(col("contaminated").cast("long")).as("n_contaminated"))

  /** Keyword search over the corpus: tf-idf-ranked top-k documents for a
    * bag of query terms — the data-selection primitive ("find me documents
    * about X") a training-data pipeline runs against raw corpora. The idf
    * weight is FIXED-POINT rational instead of the textbook logarithm:
    * `idf_scaled(t) = (10^6 · N) div df(t)` (pure integer division), so a
    * document's score `Σ_t tf(t,d) · idf_scaled(t)` is exact — monotone
    * in the same direction as log-idf ranking (rarer term ⇒ bigger weight)
    * and bit-identical in any engine, where a floating log would make the
    * result hash engine-dependent.
    *
    * Range analysis (the MinHashMod-style bound the repo uses elsewhere):
    * `idf_scaled ≤ 10^6 · N` fits BIGINT up to N = 9.2e12 documents, but the
    * per-term product `tf · idf_scaled` reaches ~1e19 already at N = 1e10
    * with tf ~ 10^3 — past BIGINT. The product and the score sum therefore
    * accumulate — and the top-k ranks — in DECIMAL(38,0) (exact,
    * order-independent, bounded by tf·10^6·N ≤ 1e38 for any physical
    * corpus). The emitted `score` is the DOUBLE (IEEE-nearest) image of
    * that exact decimal — deterministic in any engine, and the friendly
    * type for downstream column stores (ranking happened before the
    * narrowing, so top-k membership and order never depend on it).
    *
    * Shape at scale: the term list is a broadcast map-side filter on the
    * exploded corpus — only matching occurrences ever shuffle (on doc_id for
    * tf, then the tiny per-term df is broadcast back). The corpus-sized scan
    * is one pass, no corpus-sized join.
    */
  def keywordSearch(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty && k >= 1,
      s"keywordSearch: needs a non-empty term list and k >= 1, got (${terms.size}, $k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val termsDf = terms.toDF("tk")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .join(broadcast(termsDf), Seq("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), Seq("tk")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        (col("tf").cast("decimal(38,0)") *
          expr("(1000000L * n_docs) div df").cast("decimal(38,0)")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("w")).cast("decimal(38,0)").as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("double").as("score"))
  }

  /** Retrieval-quality evaluation — precision@k, recall@k and MRR per
    * query, the commissioning check a retrieval stack runs before serving
    * (TREC-style, kept integer-exact: basis points and ppm instead of
    * float ratios). Each term is one single-term query; the ranked list is
    * term-frequency retrieval with deterministic total order
    * (tf DESC, doclen ASC, doc_id), and graded truth is derived from the
    * corpus itself — a doc is relevant to a term iff the term occurs at
    * least `relMinTf` times. Per query: truth size, retrieved size,
    * relevant-retrieved overlap, `prec_bp`/`recall_bp` (floor basis
    * points; recall of an empty truth set is vacuously 10000), and
    * `mrr_ppm = 10^6 div first-relevant-rank` (0 when no relevant doc is
    * retrieved).
    *
    * Shape at scale: broadcast term filter on the exploded corpus (only
    * matching occurrences shuffle), the per-term ranked cut on the
    * bounded-heap [[graft.plans.TopKPerKey]] (O(k) memory per term, no
    * term-sized sort), and query-sized aggregates thereafter — so the eval
    * costs one corpus pass regardless of corpus size, like
    * [[graft.analytics.Dedup]]'s `lshRecallEval` does for dedup.
    */
  def retrievalEvalPR(docs: DataFrame, terms: Seq[String], k: Int = 10,
      relMinTf: Long = 2L): DataFrame = {
    require(terms.nonEmpty && k >= 1,
      s"retrievalEvalPR: needs a non-empty term list and k >= 1, got (${terms.size}, $k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val termsDf = terms.toDF("tk")
    val tf = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokenCount(col("text")).as("dl"),
        explode(tokens(col("text"))).as("tk"))
      .join(broadcast(termsDf), Seq("tk"))
      .groupBy(col("tk"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val truth = tf.groupBy(col("tk"))
      .agg(sum(when(col("tf") >= relMinTf, 1L).otherwise(0L)).as("n_rel"))
    val ranked = graft.plans.TopKPerKey.topKPerKey(
      tf.select(col("tk"), col("doc_id"), (-col("tf")).as("neg_tf"), col("dl")),
      Seq("tk"), Seq("neg_tf", "dl", "doc_id"), k)
    val wq = Window.partitionBy(col("tk"))
      .orderBy(col("neg_tf"), col("dl"), col("doc_id"))
    val byTerm = ranked
      .withColumn("rank", row_number().over(wq).cast("long"))
      .withColumn("rel", -col("neg_tf") >= relMinTf)
      .groupBy(col("tk"))
      .agg(count(lit(1)).as("n_ret"),
        sum(col("rel").cast("long")).as("n_rel_ret"),
        min(when(col("rel"), col("rank"))).as("frr"))
    termsDf.join(truth, Seq("tk"), "left").join(byTerm, Seq("tk"), "left")
      .select(col("tk").as("term"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("n_rel_ret"), lit(0L)).as("n_rel_ret"),
        coalesce(col("frr"), lit(0L)).as("frr"))
      .withColumn("prec_bp", expr(
        "CASE WHEN n_ret = 0 THEN 0L ELSE (n_rel_ret * 10000L) div n_ret END"))
      .withColumn("recall_bp", expr(
        "CASE WHEN n_rel = 0 THEN 10000L ELSE (n_rel_ret * 10000L) div n_rel END"))
      .withColumn("mrr_ppm", expr(
        "CASE WHEN frr = 0 THEN 0L ELSE 1000000L div frr END"))
      .select(col("term"), col("n_rel"), col("n_ret"), col("n_rel_ret"),
        col("prec_bp"), col("recall_bp"), col("mrr_ppm"))
  }

  /** Gopher quality rules (Rae et al. 2021, Table A1 — the canonical
    * pretraining document filter), the document-shape subset that applies
    * to a corpus without line structure: word count in [50, 100000], mean
    * word length in [3, 10], ≥ 80% of words contain an alphabetic
    * character, and at least 2 of the paper's 8 stopwords ('the', 'be',
    * 'to', 'of', 'and', 'that', 'have', 'with') present (the
    * boilerplate/gibberish screens). Every rule is an integer
    * cross-multiplication over per-document token aggregates (no float
    * ratio), one map-side-combining pass; emits the per-rule flags plus
    * the conjunction, so downstream both filters on `keep` and reports
    * per-rule attrition.
    */
  def gopherQualityRules(docs: DataFrame): DataFrame = {
    val stopArr =
      "array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')"
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
          .as("sum_word_chars"),
        expr("size(filter(w, x -> x rlike '[a-zA-Z]'))").cast("long")
          .as("n_alpha_words"),
        expr(s"size(array_intersect(array_distinct(w), $stopArr))").cast("long")
          .as("n_stop_distinct"))
      .withColumn("f_word_count",
        (col("n_words") >= 50L && col("n_words") <= 100000L).cast("int"))
      .withColumn("f_mean_word_len", (
        col("sum_word_chars") >= col("n_words") * 3L &&
          col("sum_word_chars") <= col("n_words") * 10L).cast("int"))
      .withColumn("f_alpha_ratio",
        (col("n_alpha_words") * 10L >= col("n_words") * 8L).cast("int"))
      .withColumn("f_stopwords", (col("n_stop_distinct") >= 2L).cast("int"))
      .withColumn("keep", (col("f_word_count") === 1 &&
        col("f_mean_word_len") === 1 && col("f_alpha_ratio") === 1 &&
        col("f_stopwords") === 1).cast("int"))
  }

  /** Per-source lexical diversity profile — the corpus-health read a
    * pretraining pipeline uses to spot template/boilerplate sources
    * (machine-generated text has anomalously LOW type-token ratio and
    * hapax share; OCR noise anomalously high): document count, token and
    * distinct-type counts, hapax legomena (types occurring exactly once —
    * Baayen's productivity measure), TTR and hapax share in exact ppm.
    * One (source, token) aggregate then a source rollup; a separate
    * doc-count aggregate joins in (both shuffles on the semantic keys).
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
      .groupBy(col("source"), col("tk"))
      .agg(count(lit(1)).as("c"))
    val perSource = tf.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum((col("c") === 1L).cast("long")).as("n_hapax"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    nd.join(perSource, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        expr("(n_types * 1000000L) div n_tokens").as("ttr_ppm"),
        expr("(n_hapax * 1000000L) div n_types").as("hapax_ppm"))
  }

  /** Brier-score decomposition bins (Murphy 1973: reliability −
    * resolution + uncertainty) for a calibratable classifier — here the
    * 8-stopword count as a 9-level predictor of P(lang = 'en'), the
    * signal [[gopherQualityRules]] already extracts. Per predictor level:
    * count, prediction (level × 125000 ppm), observed rate in exact ppm,
    * and the reliability / resolution terms as n·(Δppm)² div 10⁶
    * (milli²-scaled, DECIMAL-safe), with the global base rate from a
    * broadcast one-row aggregate. The decomposition totals are a trivial
    * rollup of the emitted terms.
    */
  def brierDecomposition(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = stop.map(s =>
      array_contains(tokens(col("text")), s).cast("long")).reduce(_ + _)
    val d = docs.select(nStop.as("bin"),
      (col("lang") === "en").cast("long").as("y"))
    val bins = d.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val base = bins.agg(
      expr("(sum(n_pos) * 1000000L) div sum(n)").as("ybar_ppm"))
    bins.crossJoin(broadcast(base))
      .withColumn("p_ppm", expr("bin * 125000L"))
      .withColumn("obs_ppm", expr("(n_pos * 1000000L) div n"))
      .select(col("bin"), col("n"), col("n_pos"), col("p_ppm"),
        col("obs_ppm"), col("ybar_ppm"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * (p_ppm - obs_ppm) * " +
          "(p_ppm - obs_ppm)) div 1000000 AS BIGINT)").as("rel_term_milli2"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * (obs_ppm - ybar_ppm) * " +
          "(obs_ppm - ybar_ppm)) div 1000000 AS BIGINT)").as("res_term_milli2"))
  }

  /** Cohen's kappa (Educ. Psychol. Meas. 1960) between two deterministic
    * document raters — the inter-rater agreement check run before
    * trusting any pair of quality classifiers enough to ensemble them.
    * Rater A: >= 2 of the Gopher stopwords present; rater B: mean token
    * length <= 5 chars (floor division). Observed agreement po and
    * chance agreement pe (from the marginals) in exact ppm, kappa as the
    * ppm ratio (po − pe)/(1 − pe); the marginal products run in
    * DECIMAL(38,0) so n² never overflows. One scan, one one-row
    * aggregate.
    */
  def raterKappa(docs: DataFrame): DataFrame = {
    val stopArr =
      "array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')"
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"), col("text"))
      .select(
        (expr(s"size(array_intersect(array_distinct(w), $stopArr))") >= 2)
          .cast("long").as("a"),
        expr("CAST(length(text) div greatest(1, size(w)) <= 5 AS LONG)")
          .as("b"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(a = b AS LONG)")).as("n_agree"),
        sum(col("a")).as("a1"), sum(col("b")).as("b1"))
      .select(col("n"), col("n_agree"),
        expr("(n_agree * 1000000L) div n").as("po_ppm"),
        expr("CAST((CAST(a1 AS DECIMAL(38,0)) * b1 + " +
          "CAST(n - a1 AS DECIMAL(38,0)) * (n - b1)) * 1000000 div " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("pe_ppm"))
      .withColumn("kappa_ppm", expr(
        "CASE WHEN pe_ppm = 1000000 THEN 0L " +
          "ELSE ((po_ppm - pe_ppm) * 1000000L) div (1000000L - pe_ppm) END"))
  }

  /** Intra-document repetition score — the Gopher repetition screens
    * (Rae et al. 2021, Table A1: duplicate-token share and the fraction
    * of tokens covered by the most frequent 2-gram) that separate
    * crawler-loop/template pages from prose BEFORE any cross-document
    * dedup runs. Per document: token count, distinct-token count, the
    * duplicate-token share in exact ppm, the top bigram's occurrence
    * count and its exact token-coverage ppm (2·m₂·10⁶ div n). Doc-keyed
    * shuffles only.
    */
  def repetitionScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        expr("CAST(size(array_distinct(w)) AS BIGINT)").as("n_distinct"),
        col("w"))
      .filter(col("n_tokens") >= 2L)
    val topBi = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
        .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
    toks.drop("w")
      .join(topBi, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("((n_tokens - n_distinct) * 1000000L) div n_tokens")
          .as("dup_token_ppm"),
        col("top_bigram_n"),
        expr("(2L * top_bigram_n * 1000000L) div n_tokens")
          .as("top_bigram_ppm"))
  }

  /** Collocation extraction by exact association lift — the
    * integer-exact image of PMI (Church & Hanks, "Word association
    * norms, mutual information, and lexicography", CL 1990): for each
    * adjacent token bigram with support >= `minCount`,
    * lift_ppm = n_ab·N·10⁶ div (n_a·n_b) — PMI is log(lift), and log is
    * monotone, so ranking by exact lift IS ranking by PMI with no
    * transcendental in the hash. Top-k with a full deterministic
    * tie-break; products run in DECIMAL(38,0) (n_ab·N at corpus scale
    * exceeds BIGINT long before the result does). One corpus scan for
    * bigrams + one for unigrams, token-keyed joins, TakeOrdered cut.
    */
  def collocationLift(
      docs: DataFrame, minCount: Int = 5, k: Int = 50): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("tk"))
      .filter(col("tk") =!= "")
      .groupBy(col("tk")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n"))
    val bi = toks.select(explode(expr(
        "filter(transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS a, w[i] AS b)), " +
          "x -> x.a != '' AND x.b != '')")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount.toLong)
    bi.join(uni.select(col("tk").as("a"), col("c").as("n_a")), Seq("a"))
      .join(uni.select(col("tk").as("b"), col("c").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((CAST(n_ab AS DECIMAL(38,0)) * n * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("n_ab").desc, col("a"), col("b"))
      .limit(k)
  }

  /** nDCG@k per query with graded relevance (Järvelin & Kekäläinen 2002),
    * the rank-position-sensitive companion of [[retrievalEvalPR]]. The
    * SYSTEM under evaluation is the cheap shortest-doc-first prior
    * (dl ASC, doc_id — the heuristic re-ranker a pipeline might serve
    * before scoring exists); graded truth is term-frequency based,
    * grade = min(tf, 4). The grading must NOT be monotone in the ranking
    * signal or nDCG is identically 1 — that is the metric's whole point.
    * DCG = Σ grade·D(rank) with the log2 discounts
    * D(i) = round(10⁶ / log2(i+1)) carried as ten INTEGER ppm literals
    * both engines share (log2 is the one transcendental whose last-ulp
    * behavior could differ — freezing the constants removes it from the
    * comparison entirely). IDCG re-ranks the same per-term grade relation
    * by grade itself; both cuts ride the bounded-heap TopKPerKey, so the
    * eval stays one corpus pass + query-sized aggregates at any scale.
    * ndcg_ppm = 10⁶·DCG div IDCG (0 when the term has no matching doc).
    */
  def retrievalNdcgEval(docs: DataFrame, terms: Seq[String], k: Int = 10)
      : DataFrame = {
    require(terms.nonEmpty && k >= 1 && k <= 10,
      s"retrievalNdcgEval: needs terms and 1 <= k <= 10, got (${terms.size}, $k)")
    // round(1e6 / log2(i+1)) for i = 1..10
    val discounts = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val spark = docs.sparkSession
    import spark.implicits._
    val termsDf = terms.toDF("tk")
    val tf = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokenCount(col("text")).as("dl"),
        explode(tokens(col("text"))).as("tk"))
      .join(broadcast(termsDf), Seq("tk"))
      .groupBy(col("tk"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("grade", least(col("tf"), lit(4L)))
    val dArr = array(discounts.map(lit): _*)
    def dcgOf(ranked: DataFrame, order: Seq[String]): DataFrame = {
      val wq = Window.partitionBy(col("tk")).orderBy(order.map(col): _*)
      ranked
        .withColumn("rank", row_number().over(wq))
        .select(col("tk"),
          (col("grade") * element_at(dArr, col("rank"))).as("part"))
        .groupBy(col("tk")).agg(sum(col("part")).as("dcg"))
    }
    val retrieved = graft.plans.TopKPerKey.topKPerKey(
      tf.select(col("tk"), col("doc_id"), col("grade"), col("dl")),
      Seq("tk"), Seq("dl", "doc_id"), k)
    val ideal = graft.plans.TopKPerKey.topKPerKey(
      tf.select(col("tk"), col("doc_id"), col("grade"),
        (-col("grade")).as("neg_g"), col("dl")),
      Seq("tk"), Seq("neg_g", "dl", "doc_id"), k)
    val dcg = dcgOf(retrieved, Seq("dl", "doc_id"))
    val idcg = dcgOf(ideal, Seq("neg_g", "dl", "doc_id"))
      .withColumnRenamed("dcg", "idcg")
    termsDf.join(dcg, Seq("tk"), "left").join(idcg, Seq("tk"), "left")
      .select(col("tk").as("term"),
        coalesce(col("dcg"), lit(0L)).as("dcg_fp"),
        coalesce(col("idcg"), lit(0L)).as("idcg_fp"))
      .withColumn("ndcg_ppm", expr(
        "CASE WHEN idcg_fp = 0 THEN 0L " +
          "ELSE (1000000L * dcg_fp) div idcg_fp END"))
  }

  /** BM25 ranking for a bag of query terms — the canonical retrieval scorer
    * (Robertson et al., Okapi BM25) with one deliberate substitution: the
    * idf factor is the FIXED-POINT rational `(10^6 · N) div df` of
    * [[keywordSearch]] instead of the textbook logarithm, because `ln` is
    * the one piece whose last-ulp behavior differs between libm
    * implementations and would make the result hash engine-dependent. The
    * tf saturation and length normalization are untouched BM25:
    * `tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with k1 = 1.2, b = 0.75 —
    * pure IEEE multiply/divide over exactly-representable inputs evaluated
    * in a pinned parenthesization, so every engine computes bit-identical
    * doubles. Per-term scores are rounded to 6 decimals and summed as
    * DECIMAL (order-independent), making the final hash partition-proof;
    * the emitted `score` is that exact sum's DOUBLE image (ranking
    * happens on the decimal, before the narrowing).
    *
    * Same shape as [[keywordSearch]]: broadcast term filter on the
    * exploded corpus, tiny df/avgdl aggregates broadcast back, one
    * corpus-sized shuffle on doc_id.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty && k >= 1,
      s"bm25TopK: needs a non-empty term list and k >= 1, got (${terms.size}, $k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val termsDf = terms.toDF("tk")
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("text"))).as("sum_dl"))
    val tf = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokenCount(col("text")).as("dl"),
        explode(tokens(col("text"))).as("tk"))
      .join(broadcast(termsDf), Seq("tk"))
      .groupBy(col("doc_id"), col("dl"), col("tk"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), Seq("tk")).crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("round(CAST((1000000L * n_docs) div df AS DOUBLE) * " +
          "((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * " +
          "(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))), 6)")
          .cast("decimal(18,6)").as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("w")).cast("decimal(38,6)").as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("double").as("score"))
  }

  /** Importance scoring of raw documents against a target distribution —
    * the DSIR-style data-selection step (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"), kept integer-exact: the
    * corpus is split into a TARGET slice (the distribution you want more
    * of) and the RAW remainder; each raw document scores
    * `num = Σ_occ (tf_target(t) + 1)` vs `den = Σ_occ (tf_raw(t) + 1)`
    * (add-one smoothing over the two unigram tables), and the selection
    * ranks by the fixed-point ratio `(10^9 · num) div den` — documents
    * whose tokens are relatively more frequent in the target slice rank
    * first: a monotone-per-term APPROXIMATION of the log-likelihood-ratio
    * score (a ratio of sums, not a sum of log-ratios — each term's
    * contribution moves the ratio in the LLR's direction, but the two
    * rankings can differ on mixed-profile documents), chosen because it
    * needs no floating-point transcendental, so the oracle hash is stable.
    * Documents whose `targetPred` evaluates NULL count as raw (non-target),
    * not silently dropped.
    *
    * Range analysis: per-row `c·(tf+1)` ≤ ~1e18 fits BIGINT, but the
    * per-document sums do not at corpus scale (ADVICE r5: num ~ 1e22 at
    * 100 TB), so `num`/`den` accumulate — and the ratio divides — in
    * DECIMAL(38,0); the emitted num/den are their DOUBLE (IEEE-nearest)
    * images, computed after the exact ranking (the diagnostic columns —
    * the ranking signal `ratio_scaled` never narrows).
    * `ratio_scaled` IS a BIGINT (`div` yields one): exact
    * while `num/den < 9.2e9`, i.e. while no token is ≥ 9.2e9× more frequent
    * in the target slice than smoothing floor — any physical target slice;
    * ANSI mode raises (never wraps) if a degenerate corpus breaks the bound.
    *
    * Shape at scale: both tf tables come from one exploded corpus sweep
    * (shuffle on token); per-document occurrences are pre-aggregated to
    * distinct tokens with counts before the tf joins — the same hot-token
    * skew bound as [[unigramScore]] — and score aggregation shuffles on
    * doc_id. Top-k is a bounded sort.
    */
  def importanceRatioTopK(
      docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      k: Int = 100): DataFrame =
    importanceScored(docs, targetPred)
      .orderBy(col("ratio_scaled").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("num").cast("double").as("num"),
        col("den").cast("double").as("den"), col("ratio_scaled"))

  /** The shared DSIR scoring relation: every raw (non-target) document
    * with its smoothed target/raw tf-mass sums and the fixed-point ratio.
    */
  private def importanceScored(
      docs: DataFrame, targetPred: org.apache.spark.sql.Column): DataFrame = {
    val perDoc = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), coalesce(targetPred, lit(false)).as("is_target"),
        explode(tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("is_target"), col("tk"))
      .agg(count(lit(1)).as("c"))
    val tfTarget = perDoc.filter(col("is_target"))
      .groupBy(col("tk")).agg(sum(col("c")).as("tf_t"))
    val tfRaw = perDoc.filter(!col("is_target"))
      .groupBy(col("tk")).agg(sum(col("c")).as("tf_r"))
    perDoc.filter(!col("is_target"))
      .join(tfTarget, Seq("tk"), "left")
      .join(tfRaw, Seq("tk"))
      .groupBy(col("doc_id"))
      .agg(
        sum((col("c") * (coalesce(col("tf_t"), lit(0L)) + 1L))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("num"),
        sum((col("c") * (col("tf_r") + 1L))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("den"))
      .select(col("doc_id"), col("num"), col("den"),
        expr("(1000000000L * num) div den").as("ratio_scaled"))
  }

  /** DSIR importance RESAMPLING — the actual selection step of the DSIR /
    * DoReMi recipe ([[importanceRatioTopK]] only ranks): keep each raw
    * document with probability proportional to its importance ratio,
    * normalized so the highest-ratio document is kept with probability 1.
    * The coin is deterministic — a uniform draw `u ∈ [0, 10⁹)` from the
    * document id's md5, accepted iff `u · max_ratio < 10⁹ · ratio` — so
    * the sample is reproducible across engines, partitionings and reruns
    * (the property `corpus_split` establishes for splits), and an exact
    * SQL oracle can replay every accept/reject. Scale shape: scoring is
    * the existing two-aggregate DSIR pass, `max_ratio` is a one-row
    * broadcast, acceptance is map-only.
    */
  def importanceResample(
      docs: DataFrame, targetPred: org.apache.spark.sql.Column): DataFrame = {
    val scored = importanceScored(docs, targetPred)
    val rmax = scored.agg(max(col("ratio_scaled")).as("rmax"))
    // cross-multiplied accept test in DECIMAL(38,0): u·rmax can exceed
    // BIGINT range (ratios reach ~10¹² when a term is target-common but
    // raw-rare), and both engines compare the exact integers (the oracle
    // uses HUGEINT)
    scored
      .withColumn("u",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) " +
          "AS BIGINT) % 1000000000"))
      .crossJoin(broadcast(rmax))
      .filter(col("u").cast("decimal(19,0)") * col("rmax").cast("decimal(19,0)") <
        lit(1000000000L).cast("decimal(19,0)") *
          col("ratio_scaled").cast("decimal(19,0)"))
      .select(col("doc_id"), col("ratio_scaled").cast("long").as("ratio_scaled"),
        col("u"))
  }

  /** Overlapping token-window chunking — the RAG / context-window
    * preparation step: each document becomes `ceil(max(n−chunk,0)/stride)+1`
    * windows of `chunkTokens` tokens starting every `strideTokens` (the
    * final window is the tail remainder). Emits the chunk's token count and
    * content md5 — the downstream join keys for per-chunk embedding or
    * dedup — rather than the text itself, so the oracle hash is compact and
    * the corpus-sized text moves only once. Map-only: one repartition on
    * doc_id, the explode runs inside the scan stage, no other shuffle.
    */
  def chunkWindows(
      docs: DataFrame, chunkTokens: Int = 64, strideTokens: Int = 32): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1,
      s"chunkWindows: chunkTokens/strideTokens must be >= 1, " +
        s"got ($chunkTokens, $strideTokens)")
    val n = size(col("w"))
    val lastIdx = ceil(greatest(n - chunkTokens, lit(0)) / lit(strideTokens.toDouble))
      .cast("int")
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(transform(sequence(lit(0), lastIdx),
          i => array_join(slice(col("w"), i * strideTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkTokens), n - col("chunk_idx") * strideTokens)
          .cast("long").as("n_tokens"),
        md5Hex(col("chunk")).as("chunk_md5"))
  }

  /** Deterministic corpus shuffle for training order — the distributed
    * shape: a content hash keyed by (seed, doc_id) assigns every document a
    * shard and a position within the shard. No global row_number (which
    * would serialize the corpus through one window partition); each shard's
    * window ranks independently, which is exactly how shuffled training
    * shards are written at scale. Re-running with the same seed reproduces
    * the order bit-for-bit.
    */
  def shuffleShards(docs: DataFrame, seed: String, nShards: Int = 64): DataFrame = {
    val skey = md5Hex(concat(lit(seed + "-"), col("doc_id").cast("string")))
    docs
      .select(col("doc_id"), skey.as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 4), 16, 10).cast("long") % nShards)
          .cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Greedy NEXT-FIT sequence packing WITHOUT document spanning: each
    * source's documents, in doc_id order, drop into the current
    * `capacity`-token context window while they fit; a document that
    * would overflow opens a new bin (and an oversized document gets a bin
    * of its own). The complement of the cumsum packing the
    * `doc_pack_by_source` key ships (GPT-style concat-and-chunk, where
    * documents SPAN bins): this is the "no cross-document attention"
    * variant modern pretraining recipes prefer, where every example is
    * whole documents plus padding (`capacity − used` of the closed bin).
    *
    * Next-fit is an inherently sequential fold (bin state depends on
    * every earlier document), which makes this the one operator class
    * where `mapPartitions` is the right tool rather than a window: the
    * per-source runs hash-partition (`repartition(source)` +
    * `sortWithinPartitions`), and each partition folds its runs in
    * (source, doc_id) order carrying 3 longs of state — O(1) memory, one
    * shuffle, parallel across sources exactly like every per-source
    * window in this file. Emits (doc_id, source, bin, off_tokens).
    */
  def docPackNextFit(docs: DataFrame, capacity: Long = 2048L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        var cur: String = null
        var bin = 0L
        var used = 0L
        it.map { case (id, src, n) =>
          if (src != cur) { cur = src; bin = 0L; used = 0L }
          if (used > 0 && used + n > capacity) { bin += 1; used = 0L }
          val off = used
          used += n
          (id, src, bin, off)
        }
      }
      .toDF("doc_id", "source", "bin", "off_tokens")
  }

  /** Curriculum training order (Bengio et al., "Curriculum Learning", ICML
    * 2009, as applied to LLM data ordering): every document gets a GLOBAL
    * 1-based `train_order` — easy→hard band-major (here: length octiles,
    * short documents first), deterministically shuffled WITHIN each band by
    * an md5 draw so no source/topic run survives (the within-band
    * decorrelation [[shuffleShards]] provides corpus-wide).
    *
    * The global total order is (band, md5-prefix, doc_id), materialized
    * WITHOUT a single-partition global window: documents bucket by the
    * first two hex chars of the same md5 the order sorts on — a PREFIX of
    * the sort key, so per-bucket orders concatenate into the global
    * order — then a (bands×256)-row count relation cumulates into
    * broadcast offsets and each (band, bucket) group ranks independently
    * (the distributed two-phase rank; same shape as the
    * [[negativeSamples]] inverse-CDF layout). Band boundaries are exact
    * OCTILES — power-of-two fractions interpolate to exact binary doubles,
    * the cross-engine-safe percentile class (see the fragility inventory
    * in STATUS).
    */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    val qs = (1 until 8).map(i => i / 8.0)
    val bounds = docs.agg(
      expr(s"percentile(n_chars, array(${qs.mkString(", ")}))").as("bs"))
    val band = (1 until 8)
      .map(i => when(col("n_chars") >= element_at(col("bs"), i), 1).otherwise(0))
      .reduce(_ + _)
    val banded = docs.select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(bounds))
      .withColumn("h", md5Hex(col("doc_id").cast("string")).substr(1, 8))
      .withColumn("bucket", col("h").substr(1, 2))
      .select(col("doc_id"), band.cast("int").as("band"),
        col("h"), col("bucket"))
    val wOff = Window.orderBy(col("band"), col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("band"), col("bucket"), col("off"))
    val wIn = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    banded.join(broadcast(offsets), Seq("band", "bucket"))
      .withColumn("train_order",
        (col("off") + row_number().over(wIn)).cast("long"))
      .select(col("doc_id"), col("band"), col("train_order"))
  }

  /** BPE tokenizer training, the first `nMerges` merge steps (Sennrich et
    * al. 2016): train on the TOKEN VOCABULARY with occurrence counts — the
    * corpus contributes exactly one token-counting pass, after which every
    * iteration works a vocabulary-sized relation (the property that makes
    * BPE training tractable at 100 TB: the 31-row fixture vocab and a
    * 10M-type web vocab follow the same plan). Each step counts adjacent
    * symbol pairs weighted by word count, picks the most frequent pair
    * (ties broken by pair string — mirrored in the oracle), and rewrites
    * the vocabulary's space-joined symbol strings via non-overlapping
    * left-to-right `replace` — identical semantics in Spark's
    * UTF8String.replace and DuckDB's replace, which the shared oracle
    * hash-checks. The per-step argmax is a bounded 1-row driver collect
    * (the merge table IS the trained artifact — parameter-sized, like an
    * index head). Returns (step, pair, n).
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 4): DataFrame = {
    // LAZY checkpoint: each step's argmax head() doubles as the
    // materializing job for the previous step's vocabulary rewrite (2
    // jobs/step -> 1), and the final step's rewrite — consumed by
    // nothing — never computes at all
    val spark = docs.sparkSession
    // " h e l l o " — space-padded so every symbol occurrence, including
    // word edges, is delimited by spaces and replace cannot match inside a
    // multi-char symbol
    var vocab = docs.select(explode(tokens(col("text"))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("cnt"))
      .withColumn("repr", concat(lit(" "),
        concat_ws(" ", expr(
          "transform(sequence(1, length(tk)), i -> substring(tk, i, 1))")),
        lit(" ")))
    vocab = Materialize.localLazy(vocab)
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (step <- 1 to nMerges) {
      val top = vocab
        .select(col("cnt"), explode(expr(
          // guard: sequence(1, 0) DESCENDS in Spark, so a single-symbol
          // word must yield an explicit empty pair list
          "CASE WHEN size(split(trim(repr), ' ')) > 1 THEN " +
            "transform(sequence(1, size(split(trim(repr), ' ')) - 1), i -> " +
            "concat(element_at(split(trim(repr), ' '), i), ' ', " +
            "element_at(split(trim(repr), ' '), i + 1))) " +
            "ELSE array() END")).as("p"))
        .groupBy("p").agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("p").asc)
        .head()
      val pair = top.getString(0)
      merges += ((step, pair, top.getLong(1)))
      vocab = Materialize.localLazy(vocab.withColumn("repr",
        replace(col("repr"), lit(s" $pair "),
          lit(" " + pair.replace(" ", "") + " "))))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      merges.result().map { case (s, p, n) =>
        org.apache.spark.sql.Row(s, p, n) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("pair",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** BPE encoding under a trained merge list — the APPLY path of
    * [[bpeMerges]] (train once, encode anywhere: the tokenizer deployment
    * shape). Encoding is a pure map over the token VOCABULARY: the merge
    * list is parameter-sized (like an index head), applied as a chain of
    * non-overlapping left-to-right `replace` steps on the space-padded
    * symbol string — no per-step action, no shuffle, ONE plan. The corpus
    * contributes one token-counting pass; per-document totals come from a
    * join of per-doc token counts against the encoded vocabulary on the
    * token key (vocabulary-sized relation — broadcastable for most corpora,
    * a plain shuffle join at web-vocab scale; the planner decides).
    * Returns (doc_id, n_tokens, n_bpe_symbols): the document's token count
    * and its length under the trained tokenizer — the signal that sizes LM
    * training (tokens-per-doc budgeting, sequence packing).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val vocab0 = docs.select(explode(tokens(col("text"))).as("tk")).distinct()
      .withColumn("repr", concat(lit(" "),
        concat_ws(" ", expr(
          "transform(sequence(1, length(tk)), i -> substring(tk, i, 1))")),
        lit(" ")))
    val encoded = merges.foldLeft(vocab0) { (v, pair) =>
      v.withColumn("repr", replace(col("repr"), lit(s" $pair "),
        lit(" " + pair.replace(" ", "") + " ")))
    }.withColumn("n_syms", size(split(trim(col("repr")), " ")).cast("long"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      .join(encoded.select("tk", "n_syms"), "tk")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("n_syms")).as("n_bpe_symbols"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 appendix A1.1): per
    * document, the occurrence count of its most frequent word bigram and
    * the number of trigram occurrences belonging to repeated trigrams,
    * alongside the token/bigram/trigram totals. Emitted as exact integer
    * numerator/denominator counts rather than ratios, so the hash is
    * engine-independent; the repetition filter divides downstream
    * (e.g. drop when top_bigram_n/n_bigrams > 0.2).
    *
    * Shuffles only on (doc_id, gram) then doc_id — the per-document
    * semantic keys — so the sweep distributes by document at corpus scale;
    * no window or global order anywhere. Documents shorter than n tokens
    * have no n-grams and report zero counts.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    def gramStats(n: Int, top: String, dup: String, tot: String): DataFrame =
      toks.select(col("doc_id"), explode(wordShingles(col("w"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          max(col("c")).as(top),
          sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as(dup),
          sum(col("c")).as(tot))
    docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(gramStats(2, "top_bigram_n", "dup_bigram_n", "n_bigrams"),
        Seq("doc_id"), "left")
      .join(gramStats(3, "top_trigram_n", "dup_trigram_n", "n_trigrams"),
        Seq("doc_id"), "left")
      .na.fill(0L)
  }

  /** RAKE keyphrase extraction (Rose et al., "Automatic keyword extraction
    * from individual documents", 2010), integer fixed point: candidate
    * phrases are maximal stopword-free token runs (gaps-and-islands per
    * document); each word scores `deg/freq` — degree = the summed length
    * of every phrase occurrence containing it, frequency = its occurrence
    * count — kept exact as `(deg · 10000) div freq`; a phrase scores the
    * sum of its words' scores. Identical phrase text ⇒ identical score,
    * so the corpus-level ranking groups by phrase. Top `k` by (score,
    * phrase) — the keyphrase table a labeling/tagging pipeline emits.
    *
    * Shape: one posexplode pass + per-doc islands window (doc-bounded),
    * word stats shuffle on the word, the phrase-word join shuffles on the
    * word again (co-partitioned), and the final ranking is a k-bounded
    * TakeOrdered. No float anywhere.
    */
  def rakeKeyphrases(
      docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      k: Int = 20): DataFrame = {
    val toks = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tk")))
      .filter(!col("tk").isin(stopwords: _*) && col("tk") =!= "")
    val isl = toks.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phrases = isl.groupBy(col("doc_id"), col("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tk")))).as("pw"))
      .select(col("doc_id"),
        expr("array_join(transform(pw, x -> x.tk), ' ')").as("phrase"),
        expr("transform(pw, x -> x.tk)").as("words"),
        size(col("pw")).cast("long").as("len"))
    val occ = phrases.select(col("phrase"), col("len"),
      explode(col("words")).as("w"))
    val wordStats = occ.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("s_w", expr("(deg * 10000) div freq"))
    val phraseScores = occ
      .join(wordStats.select(col("w"), col("s_w")), Seq("w"))
      .groupBy(col("phrase")).agg(sum(col("s_w")).as("score_sum"),
        count(lit(1)).as("n_words_total"))
    // score_sum accumulated over every occurrence of the phrase; per-
    // occurrence score = score_sum / occurrences — recover the ranking
    // from counts (all integers): per-occurrence word count = len
    phrases.groupBy(col("phrase"), col("len"))
      .agg(count(lit(1)).as("n_occurrences"))
      .join(phraseScores, Seq("phrase"))
      .select(col("phrase"), col("n_occurrences"),
        expr("score_sum div n_occurrences").as("score_fp"))
      .orderBy(col("score_fp").desc, col("phrase"))
      .limit(k)
  }

  /** Exact integer floor square root: IEEE `sqrt` is correctly rounded, so
    * after `floor` the result is off by at most one — two exact integer
    * comparisons repair it. Written as SQL text so both DECIMAL and BIGINT
    * operands flow through, and so the oracle can state the identical
    * expression.
    */
  private def isqrtSql(x: String, s: String): String =
    s"CASE WHEN ($s + 1) * ($s + 1) <= $x THEN $s + 1 " +
      s"WHEN $s * $s > $x THEN $s - 1 ELSE $s END"

  /** Deterministic unigram^(3/4) negative sampling (Mikolov et al. 2013,
    * word2vec's smoothed-unigram noise distribution; the same draw shape
    * feeds contrastive-learning negatives). Every (doc, slot) pair draws a
    * token with probability ∝ count^(3/4) — heavy smoothing toward the
    * tail, the published exponent — with NO randomness: the draw coin is
    * an md5 of (doc_id, slot), so the sample is reproducible across
    * engines, partitionings and reruns (the property the priority/DSIR
    * samplers here already hold). count^(3/4) = isqrt(isqrt(count³)) is
    * computed in EXACT integer arithmetic (DECIMAL cube, float-sqrt with
    * integer ±1 repair), so the masses hash-match any replay.
    *
    * The inverse-CDF table is laid out distributed: tokens bucket by an
    * md5 hash, per-bucket mass sums cumulate across the |buckets|-row
    * relation (broadcast), and within-bucket running sums window PER
    * BUCKET — the same distributed-prefix-scan shape as the lateness
    * profile, no vocabulary-sized single partition anywhere. The draw
    * itself is [[graft.engine.Ops.rangeJoinBinned]] (coin value into its
    * covering [lo, hi) interval), so lookup cost is candidates-per-bin,
    * not |vocab|. One driver scalar (the total mass, a count-class value)
    * sizes the bins.
    */
  def negativeSamples(docs: DataFrame, kNeg: Int = 3, nBuckets: Int = 64)
      : DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("c"))
    val mass = counts
      .withColumn("c3", expr("CAST(c AS DECIMAL(38,0)) * c * c"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(c3 AS DOUBLE))) AS DECIMAL(38,0))"))
      .withColumn("r", expr(isqrtSql("c3", "s0")))
      .withColumn("t0", expr("CAST(floor(sqrt(CAST(r AS DOUBLE))) AS BIGINT)"))
      .withColumn("m", expr(isqrtSql("r", "t0")).cast("long"))
      .withColumn("bkt",
        expr(s"CAST(conv(substring(md5(tk), 1, 8), 16, 10) AS BIGINT) % $nBuckets"))
      .select(col("tk"), col("m"), col("bkt"))
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = mass.groupBy(col("bkt")).agg(sum(col("m")).as("bsum"))
      .withColumn("poff", coalesce(sum(col("bsum")).over(wB), lit(0L)))
      .select(col("bkt"), col("poff"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("tk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = mass.join(broadcast(prefix), Seq("bkt"))
      .withColumn("hi", col("poff") + sum(col("m")).over(wIn))
      .withColumn("lo", col("hi") - col("m"))
      .select(col("tk"), col("lo"), col("hi"))
    // one count-class driver scalar sizes the bins and bounds the coin;
    // sum over zero rows is NULL — an empty corpus draws no negatives
    // (and must not reach the modulus below with 0)
    val mTotal = mass.agg(coalesce(sum(col("m")), lit(0L))).head.getLong(0)
    if (mTotal == 0L)
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0).as("j"),
          lit("").as("neg_token")).limit(0)
    val draws = docs.select(col("doc_id"))
      .withColumn("j", explode(sequence(lit(0), lit(kNeg - 1))))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', " +
          s"CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % CAST($mTotal AS BIGINT)"))
    graft.engine.Ops.rangeJoinBinned(
      draws, "u", iv.withColumn("hi_incl", col("hi") - 1), "lo", "hi_incl",
      binWidth = math.max(mTotal / 1024L, 1L))
      .select(col("doc_id"), col("j").cast("int").as("j"),
        col("tk").as("neg_token"))
  }

  /** Corpus snapshot DIFF by content fingerprint — the change report a
    * pipeline runs between two versions of a corpus (monthly crawl
    * refresh, upstream re-delivery, post-curation re-cut): which documents
    * were added, removed, or changed in place. Comparing the normalized
    * md5 fingerprint instead of the text means the shuffle carries
    * (id, 32-char signature) per side — never the document bodies — so the
    * diff of two 100 TB snapshots moves GBs, not TBs; the only shuffle is
    * the full-outer join on the id. Emits one row per differing document
    * (`change` ∈ added / removed / changed); unchanged rows — the vast
    * majority between real snapshots — never leave the join.
    */
  def snapshotDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("doc_id"),
      fingerprint(col(textCol)).as("fp_old"))
    val n = newDocs.select(col(idCol).as("doc_id"),
      fingerprint(col(textCol)).as("fp_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** Weight-proportional sampling without replacement, deterministic — the
    * priority-sampling scheme of Duffield, Lund & Thorup ("Priority
    * sampling for estimation of arbitrary subset sums", JACM 54(6), 2007):
    * each document draws a uniform `u` from its own id's md5 and gets
    * priority `u / w` (integer fixed point, `(u * prioScale) div w`); the
    * k SMALLEST priorities win, so inclusion probability is proportional
    * to weight (here `n_chars` — longer documents are sampled more, the
    * token-budget-aware corpus cut). The md5 coin makes every draw
    * reproducible across engines, partitionings and reruns — the same
    * property as [[importanceResample]]'s accept/reject.
    *
    * Map-only priority computation + a global bounded top-k (Spark's
    * TakeOrdered: per-partition k-heads, k-sized merge on the driver) —
    * no shuffle of the corpus, state O(k) per partition. Zero-weight rows
    * clamp to weight 1 rather than dividing by zero.
    */
  def prioritySample(docs: DataFrame, k: Int = 100,
      prioScale: Long = 1000000L): DataFrame = {
    val u = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) " +
      "AS BIGINT) % 1000000000 + 1")
    val w = greatest(col("n_chars"), lit(1L))
    docs
      .select(col("doc_id"), col("source"), w.as("w"), u.as("u"))
      .select(col("doc_id"), col("source"), col("w"), col("u"),
        expr(s"(u * $prioScale) div w").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
  }

  /** Cross-source content-overlap matrix: for every pair of sources, how
    * many distinct word-`n`-gram fingerprints appear in BOTH — the
    * "mirror-site detector" that tells a curation pipeline which corpus
    * pairs are re-crawls / re-deliveries of each other (and would
    * double-count under naive source-level mixing). Gram granularity
    * (rather than whole-document) catches partial mirrors and
    * quote-heavy overlap that exact-dup fingerprints miss. The shuffle
    * key is the 32-char gram md5, never the text; per gram the distinct
    * source list is at most |sources|, so the pair explosion is bounded
    * by |sources|² per gram and the output by |sources|² rows total —
    * driver-safe at any corpus size.
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 4): DataFrame = {
    val fps = docs
      .select(col("source"), tokens(col("text")).as("w"))
      .select(col("source"),
        explode(wordShingles(col("w"), n)).as("g"))
      .select(col("source"), md5Hex(col("g")).as("fp"))
      .distinct()
    fps.as("a").join(fps.as("b"), Seq("fp"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Stupid-backoff bigram LM fluency score — the CCNet-shape "perplexity
    * filter" (Wenzek et al. 2020) with the backoff smoothing of Brants et
    * al. 2007, kept integer-exact so the oracle hash is stable: the LM
    * counts (unigram, bigram, total tokens) train on the `trainPred` slice
    * (here: the English sub-corpus, the same target DSIR uses), and every
    * document is scored by its adjacent token pairs. A pair seen in
    * training scores `(matchNum * c2(a,b)) div c1(a)` — the conditional
    * bigram frequency in fixed-point; an unseen pair backs off to
    * `(backoffNum * c1(b)) div n_train` — alpha * unigram frequency of the
    * continuation (alpha = 0.4 as published). High `lm_score` ≈ fluent
    * in-distribution text; low ≈ the junk a perplexity filter drops.
    *
    * Scale shape: the pair stream pre-aggregates to per-document pair
    * MULTIPLICITIES before any count join, so a boilerplate bigram in a
    * billion documents carries one row per document through the joins —
    * the same skew bound as [[unigramScore]]. The bigram and unigram
    * count joins are shuffle equi-joins keyed on the token pair / token
    * (co-partitioned with the count builds); the only broadcast is the
    * one-row training-token total. No transcendental enters the score —
    * integer `div` is identical in every engine.
    */
  /** CCNet-style quality partition (Wenzek et al. 2020): every scored
    * document lands in the head / middle / tail third of the corpus by
    * LM fluency — head trains as-is, middle gets a second look, tail is
    * dropped or heavily downsampled. The per-doc score is the floor mean
    * of [[bigramLmScore]]'s integer pair scores (one `div`, still
    * integer-exact); the two tertile thresholds are a broadcast one-row
    * aggregate, so the partition costs the LM scoring plus one map-side
    * comparison pass. Docs with no bigrams (< 2 tokens) are unscored and
    * absent, as in the reference pipeline.
    */
  def perplexityBuckets(docs: DataFrame, trainPred: Column): DataFrame = {
    val sc = bigramLmScore(docs, trainPred)
      .select(col("doc_id"), expr("lm_score div n_bigrams").as("score_mean"))
    val th = sc.agg(
      expr("percentile(score_mean, 1.0/3)").as("t1"),
      expr("percentile(score_mean, 2.0/3)").as("t2"))
    sc.crossJoin(broadcast(th))
      .select(col("doc_id"), col("score_mean"),
        when(col("score_mean") >= col("t2"), "head")
          .when(col("score_mean") >= col("t1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Ensemble quality verdict — what production curation actually ships:
    * several weak signals VOTE instead of one filter deciding alone
    * (Gopher/FineWeb both gate on rule stacks). Votes here: corpus length
    * band (p25..p75), LM fluency (not in the [[perplexityBuckets]] tail —
    * unscorable sub-2-token docs score 0), and low bigram repetition
    * (duplicated-bigram mass ≤ 20%, integer cross-multiplied; gram-free
    * docs pass). 3 votes = keep, 2 = review, fewer = drop. Each signal is
    * an existing operator's relation joined back on doc_id, so the
    * ensemble costs its parts plus doc-keyed equi-joins — no new shuffle
    * class.
    */
  def qualityEnsemble(docs: DataFrame, trainPred: Column): DataFrame = {
    val band = lengthBandFilter(docs)
      .select(col("doc_id"), lit(1L).as("v_len"))
    val buck = perplexityBuckets(docs, trainPred)
      .select(col("doc_id"),
        when(col("bucket") =!= "tail", 1L).otherwise(0L).as("v_lm"))
    val rep = repetitionStats(docs)
      .select(col("doc_id"),
        when(col("dup_bigram_n") * 5 <= col("n_bigrams"), 1L)
          .otherwise(0L).as("v_rep"))
    docs.select(col("doc_id"))
      .join(band, Seq("doc_id"), "left")
      .join(buck, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("v_len"), lit(0L)) + coalesce(col("v_lm"), lit(0L)) +
          coalesce(col("v_rep"), lit(0L))).as("votes"))
      .withColumn("verdict",
        when(col("votes") === 3, "keep")
          .when(col("votes") === 2, "review").otherwise("drop"))
  }

  def bigramLmScore(
      docs: DataFrame,
      trainPred: Column,
      matchNum: Long = 1000000L,
      backoffNum: Long = 400000L): DataFrame = {
    val toks = docs.select(col("doc_id"), trainPred.as("is_train"),
      tokens(col("text")).as("w"))
    val pairsRaw = toks
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("is_train"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("a"),
            element_at(col("w"), i + 1).as("b")))).as("p"))
      .select(col("doc_id"), col("is_train"), col("p.a"), col("p.b"))
    val docPairs = pairsRaw.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("m"))
    val uni = toks.filter(col("is_train"))
      .select(explode(col("w")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("c1"))
    val bi = pairsRaw.filter(col("is_train"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val total = toks.filter(col("is_train"))
      .agg(sum(size(col("w")).cast("long")).as("n_train"))
    docPairs
      .join(bi, Seq("a", "b"), "left")
      .join(uni.select(col("tk").as("a"), col("c1").as("c1a")), Seq("a"), "left")
      .join(uni.select(col("tk").as("b"), col("c1").as("c1b")), Seq("b"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("m"),
        when(col("c2").isNotNull,
          expr(s"($matchNum * c2) div c1a"))
          .otherwise(expr(s"($backoffNum * coalesce(c1b, CAST(0 AS BIGINT))) div n_train"))
          .as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("s")).as("lm_score"))
  }

  /** ROUGE-1/ROUGE-2 overlap scores (Lin, "ROUGE: A Package for Automatic
    * Evaluation of Summaries", 2004) for a CANDIDATE PAIR relation, in
    * exact basis points — the summarization/paraphrase eval run over
    * near-dup candidates to grade HOW textually close each pair is
    * (MinHash says "related", ROUGE says "almost verbatim" vs "shares
    * vocabulary"): clipped n-gram overlap o = Σ_g min(count_a g,
    * count_b g), recall = o/|a|, precision = o/|b|, and — because both
    * share the numerator — F1 collapses to the exact rational
    * 2o/(|a|+|b|), so every score is one integer floor division.
    *
    * Scale shape: gram COUNT relations (not occurrence lists) join the
    * pair relation per side on (doc_id) then meet on the gram — all
    * equi-joins keyed by pair ids and gram strings; work is
    * Σ_pairs (|a|+|b|) distinct grams, linear in the candidate volume
    * the LSH stage already bounded.
    */
  def rougeOverlapPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // EAGER: each order's gram-count relation feeds the per-doc total
    // aggregate AND both pair-join sides; the join sides canonicalize
    // equal (AQE reuses one) but the total's pruning differs, so the
    // corpus shingle chain re-ran x2 per order (RepeatAudit) — cut once
    def gramCounts(n: Int): DataFrame = Materialize.local(docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(wordShingles(col("w"), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")))
    def overlap(n: Int, tag: String): DataFrame = {
      val gc = gramCounts(n)
      val tot = gc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_tot"))
      val p = pairs.select(col("id_a"), col("id_b"))
      val o = p
        .join(gc.toDF("id_a", "g", "ca"), Seq("id_a"))
        .join(gc.toDF("id_b", "g", "cb"), Seq("id_b", "g"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(least(col("ca"), col("cb"))).as(s"o$tag"))
      p.join(o, Seq("id_a", "id_b"), "left")
        .join(tot.toDF("id_a", s"na$tag"), Seq("id_a"), "left")
        .join(tot.toDF("id_b", s"nb$tag"), Seq("id_b"), "left")
        .na.fill(0L, Seq(s"o$tag", s"na$tag", s"nb$tag"))
    }
    val r1 = overlap(1, "1")
    val r2 = overlap(2, "2")
    r1.join(r2, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"),
        col("o1"),
        when(col("na1") === 0L, 0L)
          .otherwise(expr("(o1 * 10000L) div na1")).as("r1_bp"),
        when(col("nb1") === 0L, 0L)
          .otherwise(expr("(o1 * 10000L) div nb1")).as("p1_bp"),
        when(col("na1") + col("nb1") === 0L, 0L)
          .otherwise(expr("(o1 * 20000L) div (na1 + nb1)")).as("f1_bp"),
        col("o2"),
        when(col("na2") === 0L, 0L)
          .otherwise(expr("(o2 * 10000L) div na2")).as("r2_bp"),
        when(col("nb2") === 0L, 0L)
          .otherwise(expr("(o2 * 10000L) div nb2")).as("p2_bp"),
        when(col("na2") + col("nb2") === 0L, 0L)
          .otherwise(expr("(o2 * 20000L) div (na2 + nb2)")).as("f2_bp"))
  }

  /** T5-style span-corruption mask layout (Raffel et al., JMLR 2020:
    * noise_density 0.15, mean span 3): for each document, the deterministic
    * token positions of the corruption spans — n_spans ≈ round(0.15·n/3)
    * = max(1, (n+10) div 20), one span per equal segment of the token
    * stream (non-overlap by construction), offset inside its segment by an
    * md5 draw. Emitting the mask LAYOUT (doc, span_idx, start) rather than
    * rewritten text is what a distributed pretraining pipeline ships to
    * the tokenizer workers; every quantity is integer arithmetic the
    * oracle replays. Map-only: one bounded explode per document.
    */
  def spanCorruptionMasks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 3)
      .withColumn("n_spans", expr("greatest(1L, (n_tokens + 10) div 20)"))
      // seg_len >= 3 always: n_spans = 1 keeps seg_len = n_tokens >= 3,
      // and n_spans >= 2 implies n_tokens >= 30, so seg_len >= 15
      .withColumn("seg_len", expr("n_tokens div n_spans"))
      .select(col("doc_id"), col("n_tokens"), col("seg_len"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_idx"))
      .withColumn("off", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', " +
          "CAST(span_idx AS STRING))), 1, 6), 16, 10) AS BIGINT) % (seg_len - 2)"))
      .select(col("doc_id"), col("span_idx"),
        (col("span_idx") * col("seg_len") + col("off")).as("start_pos"),
        col("n_tokens"))

  /** Feature hashing / the "hashing trick" (Weinberger et al., ICML 2009;
    * sklearn's HashingVectorizer): every token maps to a fixed bucket
    * 0..nBuckets-1 by an md5 draw, with a second md5 bit choosing the
    * sign (+1/−1) so hash collisions cancel in expectation instead of
    * inflating — the vocabulary-free featurizer a distributed trainer
    * uses when a fitted vocabulary (the [[vocab]] path) can't be shared.
    * Output per (source, bucket): the signed feature value, the term
    * count, and the distinct-term count feeding the bucket (the collision
    * diagnostic). One explode + one groupBy: output is
    * sources × nBuckets-bounded regardless of corpus size, and the md5
    * arithmetic replays exactly in SQL.
    */
  def featureHashing(docs: DataFrame, nBuckets: Int = 32): DataFrame =
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
      .withColumn("bucket", expr(
        s"CAST(conv(substring(md5(tk), 1, 6), 16, 10) AS BIGINT) % $nBuckets"))
      .withColumn("sgn", expr(
        "IF(CAST(conv(substring(md5(tk), 7, 1), 16, 10) AS BIGINT) % 2 = 0, 1L, -1L)"))
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("sgn")).as("feat"),
        count(lit(1)).as("n_terms"),
        countDistinct(col("tk")).as("n_distinct_terms"))

  /** Per-source boilerplate scrub (the C4 / web-curation "template line"
    * screen, Raffel et al. 2020 §2.2): a text unit that recurs VERBATIM
    * across many documents of one source is navigation/footer/license
    * template, not content, and is dropped from every document — distinct
    * from [[graft.analytics.Dedup.paragraphDedup]], which keeps the FIRST
    * occurrence; boilerplate has no first legitimate home. Units are the
    * corpus's fixed 20-token chunks (fixture docs carry no newlines;
    * reference condenser has no notion of sub-row text units at all). A
    * chunk is boilerplate within its source when it appears in ≥
    * `minDocs` documents AND in ≥ `dfBp`/10⁴ of the source's documents —
    * both cuts integer cross-multiplications.
    *
    * Scale shape: chunk doc-frequency shuffles on the chunk string
    * (bounded by corpus token volume), the per-source doc totals are a
    * sources-sized broadcast, and the verdict re-joins position rows on
    * the same chunk key — no window, no all-pairs. Emits per document:
    * chunk counts, boilerplate-chunk count, retained chars and the
    * boilerplate share in exact bp.
    */
  def boilerplateChunkScrub(docs: DataFrame, chunkTokens: Int = 20,
      minDocs: Int = 3, dfBp: Int = 2000): DataFrame = {
    val nChunks = ceil(size(col("w")) / lit(chunkTokens.toDouble)).cast("int")
    val chunks = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(
            slice(col("w"), i * chunkTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("idx", "chunk")))
    val srcTotals = docs.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs_src"))
    val df = chunks.select(col("source"), col("chunk"), col("doc_id"))
      .distinct()
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("df_docs"))
      .join(broadcast(srcTotals), Seq("source"))
      .withColumn("boiler",
        col("df_docs") >= minDocs.toLong &&
          col("df_docs") * 10000L >= lit(dfBp.toLong) * col("n_docs_src"))
    chunks.join(df.select(col("source"), col("chunk"), col("boiler")),
        Seq("source", "chunk"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        sum(when(!col("boiler"), length(col("chunk"))).otherwise(0L))
          .as("kept_chars"))
      .withColumn("boiler_share_bp", expr("(n_boiler * 10000L) div n_chunks"))
  }

  /** Code-switching segmentation: language-ID per fixed 20-token chunk
    * (the [[graft.functions.TextFunctions.langIdHeuristic]] stopword
    * screen — any classifier with the same per-chunk contract slots in),
    * then maximal same-prediction runs via gaps-and-islands (idx −
    * row_number within (doc, prediction) — the [[keyphrases]] pattern).
    * A multilingual crawl needs this BEFORE document-level langid:
    * a page that switches language mid-body poisons whole-doc stopword
    * ratios, while per-run splitting routes each segment to its own
    * pipeline. Windows are document-keyed only; output is one row per
    * run with its start chunk, length and prediction.
    */
  def langSegments(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val nChunks = ceil(size(col("w")) / lit(chunkTokens.toDouble)).cast("int")
    val chunks = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(
            slice(col("w"), i * chunkTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("idx", "chunk")))
      .withColumn("pred", langIdHeuristic(col("chunk")))
    val wg = Window.partitionBy(col("doc_id"), col("pred")).orderBy(col("idx"))
    chunks
      .withColumn("grp", col("idx") - row_number().over(wg))
      .groupBy(col("doc_id"), col("pred"), col("grp"))
      .agg(min(col("idx")).as("seg_start"),
        count(lit(1)).as("seg_len"))
      .select(col("doc_id"), col("seg_start"), col("seg_len"),
        col("pred").as("lang_pred"))
  }

  /** Vocabulary coverage curve: what share of the corpus's token volume
    * the top 2^j vocabulary entries cover, for j = 0..`maxLogRank` — the
    * measurement that sizes a tokenizer/embedding vocabulary (the area
    * under a Zipfian corpus's curve saturates fast; a flat curve says
    * the corpus is dictionary-hostile). The vocabulary is cut to the top
    * 2^maxLogRank entries FIRST on the bounded-heap TopKPerKey (count
    * desc, token — deterministic), so the rank/cumsum window runs over a
    * fixed-size relation regardless of corpus vocabulary; the corpus
    * total is a one-row broadcast. Coverage in exact bp.
    */
  def vocabCoverageCurve(docs: DataFrame, maxLogRank: Int = 14): DataFrame = {
    require(maxLogRank >= 0 && maxLogRank <= 30,
      s"vocabCoverageCurve: 0 <= maxLogRank <= 30, got $maxLogRank")
    val counts = docs
      .repartition(col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val top = graft.plans.TopKPerKey.topKPerKey(
      counts.select(lit(1).as("g"), col("token"), (-col("n")).as("neg_n")),
      Seq("g"), Seq("neg_n", "token"), 1 << maxLogRank)
    val w = Window.partitionBy(col("g"))
      .orderBy(col("neg_n"), col("token"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(-col("neg_n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(expr("(rank & (rank - 1)) = 0"))
      .crossJoin(broadcast(total))
      .select(
        expr("CAST(length(bin(rank)) - 1 AS INT)").as("log_rank"),
        col("rank"), col("cum_tokens"),
        expr("(cum_tokens * 10000L) div total").as("coverage_bp"))
  }

  /** Token burstiness top-k — Church & Gale's observation that content
    * words CLUMP (a doc mentioning a term mentions it again) while
    * function words spread evenly: the variance-to-mean ratio of a
    * token's per-doc count over ALL docs (zeros included, which is what
    * makes the moment algebra exact without a dense matrix):
    * VMR = s²/x̄ = (D·Q − S²) / ((D−1)·S) with S = Σc, Q = Σc² over the
    * docs containing the token and D the corpus size — shipped in exact
    * milli. VMR ≈ 1000 is Poisson (function word); ≫ 1000 is bursty
    * (topical/boilerplate candidate). Support floor df ≥ `minDf`, rank
    * cut via the bounded-heap grouped top-k (never a global sort).
    */
  def tokenBurstiness(docs: DataFrame, k: Int = 50,
      minDf: Long = 5L): DataFrame = {
    val d = "DECIMAL(38,0)"
    val perDoc = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("n_corpus"))
    val stats = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(expr(s"CAST(c AS $d) * c")).as("q"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("vmr_milli", expr(
        s"CAST((1000 * (CAST(n_corpus AS $d) * q - CAST(tf AS $d) * tf)) " +
          // divisor guard (sibling convention): a single-doc corpus with
          // minDf <= 1 would otherwise hit ANSI DIVIDE_BY_ZERO
          s"div (CASE WHEN (n_corpus - 1) * CAST(tf AS $d) = 0 THEN 1 " +
          s"ELSE (n_corpus - 1) * CAST(tf AS $d) END) AS BIGINT)"))
    graft.plans.TopKPerKey.topKPerKey(
      stats.select(lit(1).as("g"), col("token"), col("df"), col("tf"),
        col("vmr_milli"), (-col("vmr_milli")).as("neg_v")),
      Seq("g"), Seq("neg_v", "token"), k)
      .select(col("token"), col("df"), col("tf"), col("vmr_milli"))
  }

  /** Stratified k-fold assignment audit — the split every evaluation
    * pipeline needs before cross-validation: folds are the
    * deterministic md5 buckets of the doc id (reproducible in any
    * engine, stable under re-partitioning), and the audit reports each
    * (source, fold) cell's count with its deviation from the uniform
    * expectation in exact basis points, dev_bp = 10⁴·(k·n − n_src) div
    * n_src — the number a reviewer checks before trusting per-fold
    * metrics. One grouped pass plus a source-keyed total join.
    */
  def kfoldAssignment(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2, s"kfoldAssignment: k >= 2, got $k")
    val cells = docs
      .withColumn("fold", expr(
        s"CAST(conv(substring(md5(concat('fold:', CAST(doc_id AS STRING))), " +
          s"1, 6), 16, 10) AS BIGINT) % $k"))
      .groupBy(col("source"), col("fold"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("source")).agg(sum(col("n_docs")).as("ns"))
    cells.join(totals, Seq("source"))
      .select(col("source"), col("fold"), col("n_docs"),
        expr(s"(10000 * ($k * n_docs - ns)) div ns").as("dev_bp"))
  }

  /** Heaps-law vocabulary growth curve — distinct vocabulary size at
    * power-of-two doc-id prefixes, the empirical V(n) whose slope sizes
    * how fast a tokenizer vocabulary saturates as the corpus grows.
    * Everything reduces over log₂ buckets: a token's first-occurrence
    * doc (min doc_id, floored at 1) lands in bucket
    * ⌊log₂ first⌋ = length(bin(first)) − 1 (the [[vocabCoverageCurve]]
    * trick), docs bucket the same way, and one cumulative window over
    * the ≤ ~40-row bucket grid yields both curves. Emits one row per
    * occupied bucket: its doc-id ceiling 2^{b+1}−1, cumulative docs and
    * cumulative vocabulary. The curve reads "by doc-id prefix" — with
    * dense ids this IS V(n), and with sparse ids the emitted doc count
    * keeps the row self-describing.
    */
  def vocabHeapsCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docB = docs
      .select(expr("length(bin(greatest(1L, doc_id))) - 1").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nd"))
    val tokB = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(min(expr("greatest(1L, doc_id)")).as("first_doc"))
      .select(expr("length(bin(first_doc)) - 1").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docB.join(tokB, Seq("b"), "left")
      .na.fill(0L, Seq("nv"))
      .withColumn("n_docs_cum", sum(col("nd")).over(w))
      .withColumn("vocab_cum", sum(col("nv")).over(w))
      .select(col("b").as("bucket"),
        expr("CAST(shiftleft(1L, CAST(b AS INT) + 1) - 1 AS BIGINT)")
          .as("doc_hi"),
        col("n_docs_cum"), col("vocab_cum"))
  }

  /** Chao1 vocabulary-richness estimate + Good-Turing unseen mass — the
    * "how much vocabulary have we NOT seen yet?" commissioning question
    * for a tokenizer/embedding vocabulary (Chao 1984; Good 1953). From
    * the token frequency table alone: f1/f2 = singleton/doubleton type
    * counts, the bias-corrected Chao1 V + f1(f1−1)/(2(f2+1)) (defined
    * even at f2 = 0) ships in exact milli-types, and the Good-Turing
    * probability mass of UNSEEN types f1/N in exact ppm. One corpus
    * tokenize → one token-keyed count → one row; the frequency-of-
    * frequencies reduction is vocabulary-bounded.
    */
  def vocabChao1Richness(docs: DataFrame): DataFrame = {
    val counts = docs
      .repartition(col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    counts.agg(
      count(lit(1)).as("v_obs"),
      sum(col("n")).as("n_tokens"),
      sum(expr("CAST(n = 1 AS BIGINT)")).as("f1"),
      sum(expr("CAST(n = 2 AS BIGINT)")).as("f2"))
      .select(col("v_obs"), col("n_tokens"), col("f1"), col("f2"),
        expr("v_obs * 1000 + (1000 * f1 * (f1 - 1)) div (2 * (f2 + 1))")
          .as("chao1_milli"),
        expr("(1000000 * f1) div (CASE WHEN n_tokens = 0 THEN 1 " +
          "ELSE n_tokens END)").as("unseen_mass_ppm"))
  }

  /** Flesch readability in exact fixed point — the classic document
    * difficulty prior a curation pipeline buckets by (Flesch 1948;
    * Kincaid et al. 1975). Syllables are the standard vowel-group
    * heuristic: per word, the count of maximal `[aeiouy]+` runs, floored
    * at 1 (a vowel-less token — digits, CJK — counts one); sentences are
    * fixed 15-token segments, ceil-divided, because the fixture corpus
    * carries no terminator punctuation (the segmentation is shared
    * verbatim with the oracle, so it cancels in the compare). Both
    * formulas emit MILLI-points with positive-integer floor division:
    * reading ease 206835 − (1015·W) div S − (84600·Syl) div W and FK
    * grade (390·W) div S + (11800·Syl) div W − 15590 — identical in
    * Spark `div` and DuckDB `//`. One map-side-combining pass; the only
    * per-word work is a codegen'd regexp over the token array.
    */
  def readabilityScores(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr("aggregate(w, 0L, (acc, x) -> acc + " +
          "greatest(1L, CAST(size(regexp_extract_all(x, '[aeiouy]+', 0)) AS BIGINT)))")
          .as("n_syllables"))
      .filter(col("n_words") >= 1L)
      .withColumn("n_sents", expr("(n_words + 14L) div 15L"))
      .withColumn("fre_milli", expr(
        "206835L - (1015L * n_words) div n_sents - (84600L * n_syllables) div n_words"))
      .withColumn("fkg_milli", expr(
        "(390L * n_words) div n_sents + (11800L * n_syllables) div n_words - 15590L"))
}
